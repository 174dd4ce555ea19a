"""The benchmark's own checks:

    python3 -m pytest perfbench -q

- the generator is deterministic per seed (byte-identical parquet input);
- ``BENCHMARK.json`` lists exactly the workloads and metrics ``run.py``
  knows, with the same units;
- the one command prints every listed metric by name with its unit, for
  the end-to-end set (``--trace 0``) and the per-layer set (``--trace 1``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import run  # noqa: E402


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("density,keys,zipf_s", [(1000.0, 1, 0.0), (0.04, 64, 1.1)])
def test_generator_is_deterministic_per_seed(tmp_path, density, keys, zipf_s):
    a = gen.events(7, 5000, density, keys, zipf_s)
    b = gen.events(7, 5000, density, keys, zipf_s)
    paths = [gen.write_events(df, str(tmp_path / name)) for df, name in ((a, "a"), (b, "b"))]
    with open(paths[0], "rb") as fa, open(paths[1], "rb") as fb:
        assert fa.read() == fb.read()
    assert not a.equals(gen.events(8, 5000, density, keys, zipf_s))
    # a smaller input is an exact prefix: the oracle twin is the real input's head
    assert a.iloc[:1000].equals(gen.events(7, 1000, density, keys, zipf_s))
    assert list(a.columns) == ["event_id", "ts", "user_id", "event_type", "value"]
    span_s = (a["ts"].iloc[-1] - a["ts"].iloc[0]).total_seconds()
    assert abs(len(a) / span_s - density) / density < 0.1
    assert a["event_type"].nunique() == keys


def test_benchmark_json_matches_run():
    bench = _bench()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOAD_NAMES)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert bench["command"] == ["python3", "perfbench/run.py"]


@pytest.mark.parametrize("trace", [0, 1])
def test_one_command_prints_every_metric(trace):
    bench = _bench()
    listed = bench["per_layer"] if trace else bench["end_to_end"]
    cmd = [*bench["command"], "--workload", "sparse_keyed", "--seed", "5",
           "--seconds", "1", "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    assert out.returncode == 0, out.stderr[-3000:]
    line = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] is True and line["failed"] == 0 and line["attempted"] >= 1
    assert {n: v["unit"] for n, v in line["metrics"].items()} == {
        m["name"]: m["unit"] for m in listed
    }
    assert all(isinstance(v["value"], float) for v in line["metrics"].values())
