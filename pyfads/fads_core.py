"""FADS state machine — the sequential core shared by batch and streaming.

Re-implements the semantics of the reference's stateful ProcessFunction
(reference Generalizer.java:98-133 per-element loop, :136-189 release
decision, :59-74 end-of-stream flush, Cluster.java:18-85 bounding box /
fits / infoLoss) with the paper-intended fixes recorded in SURVEY.md §2.5:

1. kNN distance is ``abs(delta) / (hi - lo)`` over the *actual QID columns*
   (the reference has a precedence bug and indexes fields 0..n-1 instead of
   through ``keys[]`` — Generalizer.java:356).
2. ``bufferConstraint`` is a row *count* (Generalizer.java:123), not a time.
3. Suppression snapshots the global bounds at release time (the reference
   aliases the still-mutating bounds array — Generalizer.java:249 + :112-113).
4. infoLoss guards division by zero when a global range is 0
   (Cluster.java:82 would produce Inf/NaN); a zero global range contributes 0.
5. Time is a *logical arrival clock* (caller-supplied monotone longs, e.g.
   event-time millis or a sequence) instead of ``System.currentTimeMillis()``
   — deterministic and replayable.
6. kNN ties break by buffer (arrival) order via a stable sort; cluster-argmin
   ties break by creation order, first wins (the reference's PriorityQueue
   iteration order is an implementation detail).

One :class:`FADSState` runs every FADS path: ``run_fads_pandas`` (batch,
one ``process`` + ``flush`` per group) and the two streaming drivers,
``fads_generalize_stream`` and ``ForeachBatchFADS`` (one ``process`` per
micro-batch, state carried between calls).  Each call is
vectorized around the sequential per-release decision:

- global min/max bounds (G2), their range and its zero guard are
  prefix-accumulated once per call — an O(1) lookup per release;
- the loop is release-driven: the rows up to the next buffer overflow are
  appended at once, then TTL expiry runs once at the overflow row (rows of
  one call arrive in nondecreasing order, so this equals expiring at every
  row) and the oldest row is released;
- the buffer is an array of row *positions*; per release the QID block is
  one fancy-index gather and the neighbours leave it through one mask;
- clusters live in one preallocated per-dimension table per call — ``(d,
  cap)`` lo / hi / width rows, ``cap`` = carried clusters + rows // k + 1,
  since each new cluster consumes k buffered rows — appended by column,
  with a head pointer for TTL expiry (creation times are nondecreasing);
  fits is 2·d contiguous comparisons over the live ``[head:m]`` columns,
  and only the fitting clusters are ranked by infoLoss (first minimum ==
  first-created wins);
- releases record a cluster index or a bounds-snapshot index, so the
  released intervals are one gather at the end of the call.

Between calls the state is small and plain: ``glo``/``ghi``, the <=
``buffer_rows`` carried rows as ``(row_id, q, arrival, pid, legacy_q)``
tuples, the live clusters as ``(m, d)`` lo/hi arrays + ``(m,)`` creation
times, and ``last_arrival``.  Feeding rows in any number of chunks
releases exactly what one call releases.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import NamedTuple

import numpy as np

from pyfads.config import FADSConfig

__all__ = ["FADSState", "ReleasedBatch"]


@dataclass
class _Clusters:
    """Live clusters in creation order (G3): axis-aligned QID bounding boxes
    + creation time (Cluster.java:14-15), one row per cluster."""

    lo: np.ndarray  # (m, d)
    hi: np.ndarray  # (m, d)
    created: np.ndarray  # (m,) int64, logical arrival clock

    @classmethod
    def empty(cls, d: int) -> _Clusters:
        return cls(np.empty((0, d)), np.empty((0, d)), np.empty(0, dtype=np.int64))

    def __len__(self) -> int:
        return len(self.created)


class ReleasedBatch(NamedTuple):
    """Released rows: row ids (n,) + the interval bounds of each, (n, d)."""

    row_ids: np.ndarray
    lo: np.ndarray
    hi: np.ndarray


def _carried(carried: tuple, new: np.ndarray) -> np.ndarray:
    """One buffer column of the carried rows in front of the new rows'."""
    if not carried:
        return new
    return np.concatenate([np.asarray(carried), new]) if len(new) else np.asarray(carried)


class FADSState:
    """Incremental FADS k-anonymizer over rows of (row_id, qid_vector, arrival).

    ``process(row_ids, qids, arrivals)`` consumes rows in the given order and
    returns whatever was released by buffer pressure; ``flush()`` drains the
    buffer at end-of-stream (reference close(), Generalizer.java:59-74).
    """

    def __init__(self, cfg: FADSConfig):
        self.cfg = cfg
        self.d = len(cfg.qid_cols)
        self.glo = np.full(self.d, np.inf)
        self.ghi = np.full(self.d, -np.inf)
        # carried rows (row_id, qid (d,), arrival, pid, legacy (d,)) in
        # arrival order (G1), at most buffer_rows of them
        self.buffer: list[tuple] = []
        self.clusters = _Clusters.empty(self.d)
        self.last_arrival: int = 0

    def process(
        self, row_ids, qids: np.ndarray, arrivals, pids=None, legacy_vals=None
    ) -> ReleasedBatch:
        """Consume rows (already in arrival order); return released rows.

        Per-element loop of Generalizer.java:98-133: buffer -> update global
        bounds -> expire clusters -> release oldest on buffer overflow.

        ``pids`` (optional) carries the PID value per row for the
        ``distinct_pids`` kNN filter; when omitted, ``row_ids`` double as
        PIDs (true for the streaming wrappers, which key rows by pid_col).
        ``legacy_vals`` (optional, (n, d)) carries the raw-field values the
        ``legacy_distance`` mode measures distances on; defaults to the
        QID vectors.
        """
        row_ids = np.asarray(row_ids)
        qids = np.asarray(qids, dtype=np.float64).reshape(len(row_ids), self.d)
        legacy = qids if legacy_vals is None else np.asarray(legacy_vals, dtype=np.float64)
        pids = row_ids if pids is None else np.asarray(pids)
        return self._run(row_ids, qids, np.asarray(arrivals, dtype=np.int64), pids, legacy, False)

    def flush(self) -> ReleasedBatch:
        """End-of-stream drain (reference close(), Generalizer.java:59-74)."""
        none, q = np.empty(0, dtype=np.int64), np.empty((0, self.d))
        return self._run(none, q, none, none, q, True)

    def _run(self, row_ids, qids, arrivals, pids, legacy, drain: bool) -> ReleasedBatch:
        cfg, d = self.cfg, self.d
        B, k, k1, reuse = cfg.buffer_rows, cfg.k, cfg.k - 1, cfg.reuse_ms
        n = len(qids)
        # G2 running global bounds: row t = after the first t new rows; the
        # range, its zero guard and whether every dimension passes it
        glo_acc = np.minimum.accumulate(np.vstack([self.glo, qids]), axis=0)
        ghi_acc = np.maximum.accumulate(np.vstack([self.ghi, qids]), axis=0)
        gr_acc = ghi_acc - glo_acc
        pos_acc = gr_acc > 0
        all_pos = pos_acc.all(axis=1).tolist()
        # row positions index the carried rows followed by the new ones
        c = len(self.buffer)
        cr, cq, ca, cp, cl = zip(*self.buffer) if c else ((),) * 5
        row_ids, qids, arrivals = _carried(cr, row_ids), _carried(cq, qids), _carried(ca, arrivals)
        pids, legacy = _carried(cp, pids), _carried(cl, legacy)

        # the cluster table, one (d, cap) row per dimension: carried
        # clusters, then room for every cluster this call can create (each
        # consumes k buffered rows); the width hi - lo is stored once
        m = len(self.clusters)
        cap = m + (c + n) // k + 1
        cl_lo, cl_hi, cl_wid = (np.empty((d, cap)) for _ in range(3))
        cl_lo[:, :m], cl_hi[:, :m] = self.clusters.lo.T, self.clusters.hi.T
        cl_wid[:, :m] = cl_hi[:, :m] - cl_lo[:, :m]
        born = self.clusters.created.tolist()  # plain ints for the TTL test
        head = 0  # first live cluster
        rel_pos: list[int] = []
        # per released row: a cluster index, or -1 - t for a suppression
        # snapshot of bounds row t
        rel_box: list[int] = []

        def best_fitting(q, t: int):
            """G7+G8+G9: (index, infoLoss) of the live fitting cluster with
            least infoLoss (Generalizer.java:230-243; fits: Cluster.java:55-62,
            strict), or (-1, None).  Only fitting clusters are ranked; their
            infoLoss sums the per-dimension terms in dimension order (a zero
            or NaN global range adds 0), as numpy's ``mean`` over d <= 8
            terms does."""
            if head == m:
                return -1, None
            fits = np.ones(m - head, dtype=bool)
            for j, v in enumerate(q.tolist()):
                fits &= cl_lo[j, head:m] < v
                fits &= cl_hi[j, head:m] > v
            idx = np.flatnonzero(fits)
            if not len(idx):
                return -1, None
            idx += head
            ils = np.zeros(len(idx))
            for j, g in enumerate(gr_acc[t].tolist()):
                if g > 0:
                    ils += cl_wid[j, idx] / g
            ils /= d
            b = int(ils.argmin())  # first min == first-created
            return int(idx[b]), ils[b]

        def info_loss(wid, gr):
            """G8 (Cluster.java:79-85) of a box of widths ``wid``, with the
            zero-global-range guard."""
            s = 0.0
            for w, g in zip(wid.tolist(), gr.tolist()):
                if g > 0:
                    s += w / g
            return s / d

        def release_without_cluster(pivot, q, t: int):
            """Reuse the best fitting old cluster, else suppress with a
            snapshot of the global bounds (G11) — the shared fallback of
            Generalizer.java:140-149 and :177-188."""
            ci = best_fitting(q, t)[0]
            rel_pos.append(pivot)
            rel_box.append(ci if ci >= 0 else -1 - t)

        def release_oldest(buf, t: int, now: int):
            """G12 release decision (Generalizer.java:136-189) at bounds row
            ``t``; returns the rows still buffered."""
            nonlocal m
            pivot, rest = int(buf[0]), buf[1:]
            q = qids[pivot]
            if len(rest) < k1:
                # cannot form a new cluster: reuse best old cluster or suppress
                release_without_cluster(pivot, q, t)
                return rest

            buf_q, gr = qids[rest], gr_acc[t]
            if cfg.legacy_distance:
                # shipped-bug parity (Generalizer.java:356): (abs(delta)/hi)-lo
                # over the raw legacy fields, no zero guard; NaN/Inf flow
                # through the stable argsort (NaN ordered last)
                with np.errstate(invalid="ignore", divide="ignore"):
                    per_dim = np.abs(legacy[rest] - legacy[pivot]) / ghi_acc[t] - glo_acc[t]
                dists = per_dim.mean(axis=1)
            else:
                # G5 intended: k-1 nearest by mean over dims of abs(delta)/(ghi-glo)
                ad = np.abs(buf_q - q)
                if all_pos[t]:
                    dists = np.add.reduce(ad / gr, axis=1) / d  # == .mean(axis=1)
                else:
                    dists = np.divide(ad, gr, out=np.zeros_like(ad), where=pos_acc[t]).mean(axis=1)
            if cfg.distinct_pids:
                # Intended PID-uniqueness filter (Generalizer.java:205-216, the
                # commented-out check): walk the stable distance order, greedily
                # taking the nearest neighbour whose PID is not already among
                # the chosen neighbours.  The pivot's own PID is NOT
                # pre-excluded (the reference's uniqueKeys map starts empty).
                # If fewer than k-1 unique-PID neighbours exist, knn() returns
                # null and the caller reuses an old cluster / suppresses; the
                # buffer is untouched (Generalizer.java:177-188).
                bpids = pids[rest]
                chosen: list[int] = []
                seen: set = set()
                for j in dists.argsort(kind="stable"):
                    pid = bpids[j]
                    if pid in seen:
                        continue
                    seen.add(pid)
                    chosen.append(int(j))
                    if len(chosen) == k1:
                        break
                if len(chosen) < k1:
                    release_without_cluster(pivot, q, t)
                    return rest
                order = chosen
            else:
                order = dists.argsort(kind="stable")[:k1]

            # G6: cluster box over the k-1 *neighbours only* (the pivot is
            # generalized with the neighbours' box even if it lies outside —
            # shipped reference behavior, Generalizer.java:155,173)
            nb_q = buf_q[order]
            knn_lo, knn_hi = np.minimum.reduce(nb_q), np.maximum.reduce(nb_q)
            knn_wid = knn_hi - knn_lo

            ci, il = best_fitting(q, t)
            if ci >= 0 and il < info_loss(knn_wid, gr):
                # reuse old cluster; neighbours stay buffered (Generalizer.java:162-165)
                rel_pos.append(pivot)
                rel_box.append(ci)
                return rest

            # release pivot + neighbours (in buffer order) with the new
            # cluster, cache it (Generalizer.java:166-176)
            nb = np.zeros(len(rest), dtype=bool)
            nb[order] = True
            rel_pos.extend(rest[nb].tolist())
            rel_pos.append(pivot)
            rel_box.extend([m] * k)
            cl_lo[:, m], cl_hi[:, m], cl_wid[:, m] = knn_lo, knn_hi, knn_wid
            born.append(now)
            m += 1
            return rest[~nb]

        # release-driven: append the rows up to the next buffer overflow at
        # once, then expire (G3 TTL, Generalizer.java:117-120) and release.
        # Arrivals within a call are nondecreasing, so expiring once at the
        # overflow row equals expiring at every row before it.
        pos = np.arange(c + n)
        buf, nxt, t, now = pos[:c], c, 0, self.last_arrival
        arr = arrivals.tolist()
        while nxt < c + n:
            step = min(B + 1 - len(buf), c + n - nxt)
            buf = np.concatenate((buf, pos[nxt : nxt + step]))
            nxt += step
            t, now = nxt - c, arr[nxt - 1]
            while head < m and born[head] + reuse < now:
                head += 1
            if len(buf) > B:
                buf = release_oldest(buf, t, now)
        if drain:
            # G14 end-of-stream flush: bounds frozen at the last row, no expiry
            while len(buf):
                buf = release_oldest(buf, t, now)

        # gather the released intervals: cluster boxes, then bounds snapshots
        box = np.asarray(rel_box, dtype=np.int64)
        idx = np.where(box >= 0, box, m - 1 - box)
        lo_tab = np.concatenate([cl_lo[:, :m].T, glo_acc])
        hi_tab = np.concatenate([cl_hi[:, :m].T, ghi_acc])
        out = ReleasedBatch(row_ids[np.asarray(rel_pos, dtype=np.int64)], lo_tab[idx], hi_tab[idx])

        # write back: bounds, the kept rows, the live clusters (copied out of
        # the call's table as (m, d) rows, so its spare capacity is freed)
        self.glo, self.ghi = glo_acc[-1].copy(), ghi_acc[-1].copy()
        self.last_arrival = now
        self.buffer = list(zip(row_ids[buf], qids[buf], arrivals[buf], pids[buf], legacy[buf]))
        self.clusters = _Clusters(
            cl_lo[:, head:m].T.copy(), cl_hi[:, head:m].T.copy(), np.array(born[head:], dtype=np.int64)
        )
        return out
