#!/usr/bin/env python
"""Benchmark harness: runs every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline metric is end-to-end wall seconds of the flagship FADS pipeline
(source -> arrival enrichment -> generalize -> sink); ``rows_per_sec`` is
reported alongside for the BASELINE.md target (>=500 rows/s sustained).
Each query is forced with a noop-format write so the full plan executes
(count() alone would let Catalyst prune the work).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

from pyspark.sql import SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyfads.metrics import BatchThroughput, observe_count  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# best-of-N per query, N adaptive by CONVERGENCE (VERDICT r4 item 2): the
# reported number is the steady-state min, but the JIT warmup curve for
# codegen-heavy queries is long and NON-monotonic — dedup_minhash_lsh
# measured [16.2, 6.7, 12.5, 1.13, 1.2, 1.11] s in one session, so any
# fixed-small rep count lands somewhere random on the warmup slope (that
# was the whole r3->r4 "2.7x regression": best-of-5 vs best-of-2 on this
# curve).  Rule: run at least MIN_REPS, stop as soon as the two fastest
# reps agree within 20% (steady state reached), cap at REPS.  The full
# rep list per query is recorded in BENCH_FULL.json so round-over-round
# comparisons can always see where on the curve a min came from.
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "6"))
MIN_REPS = min(3, REPS)


def _git_sha() -> "str | None":
    """HEAD of the checkout this file sits in, or None outside one."""
    import subprocess

    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=os.path.dirname(os.path.abspath(__file__)),
            capture_output=True,
            text=True,
            check=True,
        )
    except (OSError, subprocess.CalledProcessError):
        return None
    return out.stdout.strip() or None


def _converged(reps: "list[float]") -> bool:
    if len(reps) < MIN_REPS:
        return False
    fastest, second = sorted(reps)[:2]
    return second <= fastest * 1.2


# The round driver tail-captures only ~2000 chars of stdout and parses the
# last JSON line found there; BENCH_r04 recorded parsed:null when the full
# per-query dict outgrew that at 97 queries.  Hard ceiling with headroom:
LINE_BUDGET = 1700


def compact_line(
    summary: dict, timings: "dict[str, float]", detail_name: "str | None",
    budget: int = LINE_BUDGET,
) -> str:
    """The single stdout JSON line: required schema + the slowest queries
    that fit in ``budget`` chars, the rest summarized by ``queries_omitted``
    + a pointer to the detail file.  Adaptive: however large the registry
    grows, the emitted line never exceeds ``budget`` + the omitted-count
    suffix (pinned by tests/test_sql_surface.py).  An entry that overflows
    the budget is dropped and LATER (shorter-named, still slower-first)
    entries keep being tried, so the budget is packed rather than cut at
    the first overflow (ADVICE r7)."""
    out = dict(summary)
    out["detail"] = detail_name
    out["queries"] = {}
    for name in sorted(timings, key=lambda n: -timings[n]):
        out["queries"][name] = timings[name]
        if len(json.dumps(out, separators=(",", ":"))) > budget:
            del out["queries"][name]
    out["queries_omitted"] = len(timings) - len(out["queries"])
    return json.dumps(out, separators=(",", ":"))


def build_spark() -> SparkSession:
    return (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName("pyfads-bench")
        .config("spark.sql.shuffle.partitions", CPUS)
        # size scan splits to the FIXTURE files (largest ~11 MB at sf0.1):
        # the 128 MB default gives 1-3 scan tasks per table, serializing
        # every downstream stage behind a single-digit-parallelism scan.
        # This is the local analogue of sizing maxPartitionBytes to the
        # target SF on a cluster (SCALE.md "Global posture").
        .config("spark.sql.files.maxPartitionBytes", "2m")
        .config("spark.sql.files.openCostInBytes", "256k")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 captures the Python call site for EVERY DataFrame/Column
        # op (DataFrameQueryContext, for error messages): each op pays an
        # inspect-stack walk plus 3 extra py4j RPCs (conf.get + origin
        # set/clear).  cProfile showed ~1/3 of expression-heavy builders'
        # wall time inside this wrapper (OPTIMIZATION_r12.md).  Scale-neutral:
        # it's pure driver-side debugging aid, off in any production job.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .getOrCreate()
    )


def force(df) -> None:
    """Execute the full plan without materializing rows on the driver."""
    df.write.format("noop").mode("overwrite").save()


def _ensure_sf1(dst: str) -> None:
    """Materialize the deterministic 10x scale-up fixtures (scripts/
    make_sf1.py) if absent — probe data only, oracles stay on /root/testdata."""
    if os.path.exists(os.path.join(dst, "documents.parquet")):
        return
    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts")
    )
    import make_sf1

    make_sf1.build(dst)


def main() -> None:
    global SF_DIR, REPS, MIN_REPS

    # --sf1: whole-suite superlinearity sweep (VERDICT r5 item 5) — run
    # every query ONCE against the 10x fixtures and write BENCH_SF1.json;
    # compare ratios against BENCH_FULL.json's sf0.1 steady-state mins
    # (SCALE.md records the read).  Repeatable: the fixtures build lazily
    # and are reused across rounds.
    sf1_mode = "--sf1" in sys.argv
    detail_name = "BENCH_FULL.json"
    if sf1_mode:
        SF_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
        _ensure_sf1(SF_DIR)
        REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "1"))
        MIN_REPS = min(3, REPS)
        detail_name = "BENCH_SF1.json"

    from __spark_entry__ import queries

    spark = build_spark()
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    rep_counts: dict[str, int] = {}
    rep_lists: dict[str, list] = {}
    build_secs: dict[str, float] = {}
    flagship_rows = 0
    flagship_sec = 0.0

    only = set(os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")) - {""}
    for name, fn in queries().items():
        if only and name not in only:
            continue
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        try:
            reps: list[float] = []
            # the flagship is the headline rows/s metric: always spend the
            # full rep budget on it (early convergence-stop measured it
            # ~20% above its true steady state in r5).  All three FADS
            # entries are headline-adjacent, so they get the full budget
            # too, with a rep floor of 5 (VERDICT r7 item 6: the r6->r7
            # 82k->68k rows/s swing was pure rep sampling); the flagship
            # additionally extends past the cap until its two fastest reps
            # agree within 10%, so the recorded min is steady-state.
            fads_entry = name in (
                "fads_generalize_events",
                "fads_partitioned_events",
                "fads_hotkey_events",
            )
            # REPS == 1 (the --sf1 default) collapses the whole policy to
            # single-rep: no floor, no convergence extension (a 1-element
            # rep list must never reach the two-fastest unpack below)
            budget = max(REPS, 5) if fads_entry and REPS > 1 else REPS
            hard_cap = (
                budget + 4
                if name == "fads_generalize_events" and REPS > 1
                else budget
            )

            def _done(reps: "list[float]") -> bool:
                if fads_entry:
                    if len(reps) < budget:
                        return False
                    if name != "fads_generalize_events" or len(reps) >= hard_cap:
                        return True
                    fastest, second = sorted(reps)[:2]
                    return second <= fastest * 1.1
                return len(reps) >= REPS or _converged(reps)

            while not _done(reps):
                # fn() runs INSIDE the timer: builders are normally lazy
                # (microseconds of plan construction), but a few run real
                # Spark jobs eagerly (contamination_bloom's filter
                # build+collect, IVF codebook training) and excluding them
                # would flatter those queries (ADVICE r5, pipeline.py:261).
                if name == "fads_generalize_events":
                    with BatchThroughput(name) as bt:
                        df, obs = observe_count(fn(spark, SF_DIR))
                        force(df)
                    sec = bt.seconds
                    if not reps or sec < min(reps):
                        flagship_rows = int(obs.get["rows"])
                        flagship_sec = sec
                else:
                    # builder timed separately so BENCH_FULL records the
                    # build/execute split: eager builder work (codebook
                    # training, Bloom build, CC convergence loop) is real
                    # cost and stays in the total, but the split shows how
                    # much a persisted artifact (signature/codebook store)
                    # would amortize away.  The recorded build is the one
                    # from the BEST-TOTAL rep, so build+execute always
                    # describes a single real rep.
                    t0 = time.perf_counter()
                    df = fn(spark, SF_DIR)
                    t1 = time.perf_counter()
                    force(df)
                    sec = time.perf_counter() - t0
                    if not reps or sec < min(reps):
                        build_secs[name] = round(t1 - t0, 3)
                reps.append(sec)
            timings[name] = round(min(reps), 3)
            medians[name] = round(statistics.median(reps), 3)
            rep_counts[name] = len(reps)
            rep_lists[name] = [round(r, 3) for r in reps]
        except Exception as exc:  # keep the bench line parseable on failure
            print(f"[bench] {name} FAILED: {exc}", file=sys.stderr)
            timings[name] = -1.0
            medians[name] = -1.0
            rep_counts[name] = 0
            rep_lists[name] = []

    if sf1_mode:
        sf = 1.0
    else:
        sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    rows_per_sec = flagship_rows / flagship_sec if flagship_sec > 0 else 0.0
    summary = {
        "metric": "fads_pipeline_wall_sec",
        "value": round(flagship_sec, 3),
        "unit": "sec",
        "sf": sf,
        "rows": flagship_rows,
        "rows_per_sec": round(rows_per_sec, 1),
        "total_sec": round(sum(t for t in timings.values() if t > 0), 3),
        "n_queries": len(timings),
        "reps_cap": REPS,
    }

    # Full per-query detail (min + median + rep count) goes to a repo file:
    # the round driver captures only the last ~2000 chars of stdout, and at
    # 97 queries the full dict no longer fits on one parseable line (this is
    # exactly how BENCH_r04.json ended up with parsed:null).  A subset run
    # (SPARK_GRAFT_BENCH_ONLY) writes none, so it cannot clobber the
    # committed full-suite detail; its line says "detail": null.
    if only:
        print(compact_line(summary, timings, None))
        spark.stop()
        return
    full = dict(summary)
    full["cpus"] = int(CPUS)
    full["git_sha"] = _git_sha()
    full["queries"] = timings
    full["queries_median"] = medians
    full["queries_reps"] = rep_counts
    full["queries_rep_lists"] = rep_lists
    full["queries_build"] = build_secs  # builder share of the best rep's era
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), detail_name)
    with open(detail_path, "w") as fh:
        json.dump(full, fh, indent=1, sort_keys=True)

    print(compact_line(summary, timings, detail_name))
    spark.stop()


if __name__ == "__main__":
    main()
