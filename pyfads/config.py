"""FADS algorithm configuration.

Mirrors the reference constructor ``Generalizer(int k, long bufferConstraint,
long reuseConstraint, int[] keys, int pidKey, TypeInformation[] types)``
(reference Generalizer.java:76-89), with column *names* instead of positional
indices (idiomatic Spark) and a logical (data-driven) clock instead of
``System.currentTimeMillis()`` for determinism (SURVEY.md §2.5.9, §7.4).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class FADSConfig:
    """Parameters of the FADS k-anonymization algorithm.

    Defaults match the reference job wiring
    (TransactionGeneralizationJob.java:66-71): k=10, buffer of 30 rows,
    cluster-reuse TTL of 60 000 ms.

    - ``k``: anonymity parameter; released clusters contain >= k tuples.
    - ``buffer_rows``: max rows held before the oldest is released.  The
      reference documents this as a max residence *time* but uses it as a
      *count* (Generalizer.java:78 vs :123); we implement the count.
    - ``reuse_ms``: how long a cached cluster may be reused, measured on the
      arrival clock (reference: wall clock, Generalizer.java:118).
    - ``qid_cols``: quasi-identifier columns (numeric).  Replaced by
      ``<col>_lo``/``<col>_hi`` interval pairs in the output (flattened form
      of the reference's TUPLE(DOUBLE, DOUBLE), Generalizer.java:260-268).
    - ``pid_col``: person/record id column, passed through (the reference's
      PID-uniqueness check in knn is disabled in shipped code,
      Generalizer.java:212-216; default ``distinct_pids=False`` keeps parity).
      The streaming drivers (``fads_generalize_stream``,
      ``ForeachBatchFADS``) need a globally unique ``pid_col`` and raise on
      a duplicate; batch FADS does not.
    - ``distinct_pids``: opt-in intended semantics of the reference's
      commented-out uniqueness check (Generalizer.java:205-216): the k-1
      nearest neighbours must carry pairwise-distinct ``pid_col`` values;
      when fewer than k-1 unique-PID neighbours exist the tuple falls back
      to old-cluster reuse / suppression and the buffer is left untouched.
    - ``arrival_col``: column holding arrival time in epoch millis (long).
      Defines processing order and the TTL clock.
    - ``legacy_distance``: opt-in byte-parity with the reference's *shipped*
      kNN distance (Generalizer.java:356), which has a precedence bug —
      ``(abs(delta) / hi_i) - lo_i`` instead of ``abs(delta) / (hi_i -
      lo_i)`` — and reads tuple fields 0..d-1 raw instead of through
      ``keys[]``.  Default False uses the paper-intended formula
      (SURVEY.md §2.5.3).  With the flag on, distances come from
      ``legacy_distance_cols`` (the columns standing in for the
      reference's raw fields 0..d-1; defaults to ``qid_cols``) against the
      QID global bounds, faithfully reproducing both bugs.  No zero-range
      guard applies (the reference has none); ties/NaN order by the stable
      buffer rule (the reference's inconsistent comparator leaves them
      undefined).
    - ``legacy_distance_cols``: see above; must match ``qid_cols`` length.
    """

    k: int = 10
    buffer_rows: int = 30
    reuse_ms: int = 60_000
    qid_cols: tuple[str, ...] = ("user_id", "value", "ts_millis")
    pid_col: str = "event_id"
    arrival_col: str = "arrival_ms"
    distinct_pids: bool = False
    legacy_distance: bool = False
    legacy_distance_cols: tuple[str, ...] | None = None

    def __post_init__(self) -> None:
        if self.k < 2:
            raise ValueError("k must be >= 2")
        if self.buffer_rows < 1:
            raise ValueError("buffer_rows must be >= 1")
        if self.reuse_ms < 0:
            raise ValueError("reuse_ms must be >= 0 (negative disables reuse silently)")
        if not self.qid_cols:
            raise ValueError("at least one QID column is required")
        if len(set(self.qid_cols)) != len(self.qid_cols):
            raise ValueError("qid_cols must be distinct (duplicate names would "
                             "collide in <col>_lo/<col>_hi output columns)")
        # pid_col MAY be a QID: the reference's own job does exactly that
        # (TransactionGeneralizationJob.java:66-72 — keys {0,1,5} with
        # pidKey=0), and nothing downstream needs the scalar pid in the
        # output (releases resolve by position/pending-index; the pid
        # column simply generalizes to <pid>_lo/<pid>_hi like any QID).
        if self.arrival_col in self.qid_cols:
            raise ValueError("arrival_col must not be a QID column")
        if self.legacy_distance_cols is not None and len(
            self.legacy_distance_cols
        ) != len(self.qid_cols):
            raise ValueError(
                "legacy_distance_cols must match qid_cols length (the reference "
                "reads one raw field per QID dimension)"
            )
