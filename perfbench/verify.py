"""Output checks: exactly-once release, k-anonymity, digest identity across
operations, and the small same-seed twin against the independent oracle.

A failed check is returned as a count; the caller adds it to ``failed``.
Nothing here raises on a wrong output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pyfads.oracle import fads_oracle
from pyfads.primitives import kanon_audit

M31 = 0x7FFFFFFF
M32 = 0xFFFFFFFF


def groups(frame: pd.DataFrame, key: str | None, max_group_rows: int | None) -> list[np.ndarray]:
    """Row positions of each independent FADS instance, each in (arrival,
    pid) order: one group (parity), one per key, or one per arrival-
    contiguous run of ``max_group_rows`` rows of a key — the grouping
    ``pyfads.fads_batch.fads_generalize_partitioned`` documents."""
    order = np.lexsort((frame["event_id"].to_numpy(), frame["arrival_ms"].to_numpy()))
    if key is None:
        return [order]
    keys = frame[key].to_numpy()[order]
    out = []
    for k in np.unique(keys):
        g = order[keys == k]
        step = max_group_rows or len(g)
        out.extend(g[i : i + step] for i in range(0, len(g), step))
    return out


def info_width(df_or_cols, qid_cols, span: dict[str, float]):
    """Per released row: mean over QIDs of the interval width normalized by
    the QID's domain width (the paper's information loss,
    Cluster.java:79-85, with the generator's nominal domains as bounds)."""
    terms = [(df_or_cols[f"{q}_hi"] - df_or_cols[f"{q}_lo"]) / span[q] for q in qid_cols]
    return sum(terms) / len(terms)


def digest_aggs(out_cols: list[str], qid_cols, span: dict[str, float]):
    """Order-independent aggregates over one operation's output, observed in
    the same job that forces it: row count, two id sums (exactly-once),
    two row-hash sums (output identity across operations), and the summed
    normalized width (information loss)."""
    cols = [F.col(c) for c in out_cols]
    cols_width = {c: F.col(c) for c in out_cols}
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum("event_id").alias("id_sum"),
        F.sum(F.hash("event_id").bitwiseAND(F.lit(M31))).alias("id_hash"),
        F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(M32))).alias("row_hash"),
        F.sum(F.hash(*cols).bitwiseAND(F.lit(M31))).alias("row_hash2"),
        F.sum(info_width(cols_width, qid_cols, span)).alias("width_sum"),
    ]


def expected_ids(input_df) -> tuple[int, int, int]:
    r = input_df.agg(
        F.count(F.lit(1)),
        F.sum("event_id"),
        F.sum(F.hash("event_id").bitwiseAND(F.lit(M31))),
    ).first()
    return int(r[0]), int(r[1]), int(r[2])


def _snapshot_boxes(frame: pd.DataFrame, grp: list[np.ndarray], qid_cols):
    """Per row: the running (min, max) global bounds of its group at each
    prefix — the boxes a suppression release may publish."""
    snaps = {}
    q = frame[list(qid_cols)].to_numpy(dtype=np.float64)
    for gi, g in enumerate(grp):
        snaps[gi] = (np.minimum.accumulate(q[g], axis=0), np.maximum.accumulate(q[g], axis=0))
    return snaps


def kanon_failures(out_df, cfg, frame: pd.DataFrame, grp) -> int:
    """Rows in boxes that ``kanon_audit`` flags (fewer than k distinct PIDs)
    that are not a suppression snapshot of the row's own group."""
    qid = list(cfg.qid_cols)
    box = [c for q in qid for c in (f"{q}_lo", f"{q}_hi")]
    bad = kanon_audit(out_df, qid, cfg.pid_col, cfg.k).where("violates_k").select(*box)
    flagged = bad.join(out_df.select(cfg.pid_col, *box), box).toPandas()
    if flagged.empty:
        return 0
    gid = np.empty(len(frame), dtype=np.int64)
    for gi, g in enumerate(grp):
        gid[g] = gi
    pos = pd.Series(np.arange(len(frame)), index=frame[cfg.pid_col].to_numpy())
    snaps = _snapshot_boxes(frame, grp, qid)
    fails = 0
    for _, r in flagged.iterrows():
        lo_m, hi_m = snaps[gid[pos[r[cfg.pid_col]]]]
        lo = np.array([r[f"{q}_lo"] for q in qid])
        hi = np.array([r[f"{q}_hi"] for q in qid])
        if not ((lo_m == lo).all(axis=1) & (hi_m == hi).all(axis=1)).any():
            fails += 1
    return fails


def oracle_failures(out: pd.DataFrame, frame: pd.DataFrame, grp, cfg) -> int:
    """Rows released twice, plus rows of ``grp``'s groups whose released box
    differs from the independent oracle's or that were never released."""
    qid = list(cfg.qid_cols)
    ids = out[cfg.pid_col].to_numpy()
    fails = len(ids) - len(np.unique(ids))
    got = out.drop_duplicates(cfg.pid_col).set_index(cfg.pid_col)
    q = frame[qid].to_numpy(dtype=np.float64)
    pids = frame[cfg.pid_col].to_numpy()
    arr = frame[cfg.arrival_col].to_numpy()
    for g in grp:
        if np.isnan(arr[g].astype(np.float64)).any():  # a row never released
            fails += 1
            continue
        want = fads_oracle([(pids[i], tuple(q[i]), int(arr[i])) for i in g], cfg)
        for i in g:
            if pids[i] not in got.index:
                fails += 1
                continue
            row = got.loc[pids[i]]
            lo, hi = want[pids[i]]
            if tuple(row[f"{c}_lo"] for c in qid) != lo or tuple(row[f"{c}_hi"] for c in qid) != hi:
                fails += 1
    return fails
