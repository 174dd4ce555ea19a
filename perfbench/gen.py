"""Seeded input generator: ``events``-schema rows for the FADS benchmark.

Every workload input is built here from ``--seed`` alone; the program under
test only ever sees the rows.  The rows follow one schema
(``event_id, ts, user_id, event_type, value``, as the sf fixtures' events
table minus its unused ``props`` column).  Each column draws from its own
child generator, so a smaller ``rows`` gives an exact prefix of the larger
input (the oracle twin is the first rows of the real input).

Arrival density (rows per second of arrival clock) sets the FADS working
set: about ``density * reuse_ms / 1000 / k`` live clusters per key.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00, the fixtures' epoch
USERS = 1500  # user_id domain of the sf fixtures
VALUE_MEAN = 50.0  # the fixtures' value column is ~exponential(50)


def domains(rows: int, density: float) -> dict[str, float]:
    """Nominal width of each QID's domain, the normalizer of the reported
    information loss: fixed per workload, so the metric does not move with
    the sampled extremes of one seed's input."""
    return {"user_id": float(USERS), "value": 10 * VALUE_MEAN, "ts_millis": 1000 * rows / density}


def key_names(keys: int) -> np.ndarray:
    return np.array([f"k{i:02d}" for i in range(keys)])


def events(seed: int, rows: int, density: float, keys: int, zipf_s: float) -> pd.DataFrame:
    """``rows`` events at ``density`` rows/s of arrival clock (exponential
    gaps), ``event_type`` drawn over ``keys`` keys with Zipf(``zipf_s``)
    frequencies (0 gives uniform keys)."""
    col = [np.random.default_rng([seed, i]) for i in range(4)]
    ts_us = T0_US + np.floor(np.cumsum(col[0].exponential(1e6 / density, rows)))
    w = 1.0 / np.arange(1, keys + 1) ** zipf_s
    kidx = col[1].choice(keys, size=rows, p=w / w.sum())
    return pd.DataFrame(
        {
            "event_id": np.arange(rows, dtype=np.int64),
            "ts": ts_us.astype(np.int64).astype("datetime64[us]"),
            "user_id": col[2].integers(0, USERS, rows, dtype=np.int64),
            "event_type": key_names(keys)[kidx],
            "value": np.round(col[3].exponential(VALUE_MEAN, rows), 2),
        }
    )


def write_events(pdf: pd.DataFrame, sf_dir: str) -> str:
    """Write ``pdf`` as ``<sf_dir>/events.parquet`` (the layout
    ``pyfads.io.events_with_arrival`` reads); small row groups so the scan
    splits across task slots."""
    import os

    os.makedirs(sf_dir, exist_ok=True)
    path = os.path.join(sf_dir, "events.parquet")
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False), path, row_group_size=16_384
    )
    return path


def fads_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """The rows as ``pyfads.io.events_with_arrival`` prepares them (numeric
    QIDs + event-time arrival clock), for in-process engine calls and the
    oracle."""
    ms = pdf["ts"].to_numpy().astype("datetime64[ms]").astype(np.int64)
    return pd.DataFrame(
        {
            "event_id": pdf["event_id"].to_numpy(),
            "user_id": pdf["user_id"].to_numpy(dtype=np.float64),
            "value": pdf["value"].to_numpy(),
            "ts_millis": ms.astype(np.float64),
            "event_type": pdf["event_type"].to_numpy(),
            "arrival_ms": ms,
        }
    )

