"""URL-seen dedup: first-occurrence batch dedup + Bloom-conditioned exact
anti-join admission (SURVEY.md §2.3 J1, §2.7 U2/U3; reference semantics:
check-then-insert on a UNIQUE ``uri`` key,
/root/reference/graven/worker/crawler.py:82-84 +
/root/reference/graven/db/graven_database.py:103-115 — our MERGE-style
admission is the race-free version, SURVEY.md §7.4.3).

Admission only consumes the ``maybe_seen`` column of :func:`bloom.probe`;
the probe and its broadcast-or-shuffle choice live in ``bloom.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import BloomSpec, probe


def first_occurrence(candidates: DataFrame, key: str = "url", order: str = "priority") -> DataFrame:
    """Within-batch dedup keeping the smallest ``order`` row per ``key`` —
    the FIFO first-occurrence the reference's serial seen-probe produces.

    One ``min(order)`` + a row-atomic ``min_by(struct(others), order)``:
    a single map-side-combinable aggregate — one shuffle, no window, no
    join-back. The struct keeps the result a REAL input row even when
    ``order`` values tie (per-column scalar min_bys could stitch a torn row
    from two tied candidates, nondeterministically — engine priorities are
    unique, but this operator's contract doesn't get to assume that).
    Physical operator: **SortAggregate** (measured; min/min_by buffers over
    string/struct types aren't hash-agg capable), i.e. each side of the
    exchange sorts its partition before combining. Measured alternatives at
    200k rows × 5k keys: scalar min_bys 0.24s (torn-row hazard),
    min_by(struct) 0.30s, min(priority)+shuffled-hash semi-join-back 0.31s —
    the semi-join variant also executes the upstream (the Arrow link-extract
    explode) twice. The partial sort is the documented, cheapest-safe
    option; PLANS.md asserts SortAggregate as the *intended* operator."""
    others = [c for c in candidates.columns if c not in (key, order)]
    aggs = [F.min(F.col(order)).alias(order)]
    if others:
        aggs.append(
            F.min_by(F.struct(*[F.col(c) for c in others]), F.col(order)).alias("_r")
        )
    out = candidates.groupBy(key).agg(*aggs)
    if others:
        out = out.select(key, order, *[f"_r.{c}" for c in others])
    return out


def admit_new(
    candidates: DataFrame,
    seen: DataFrame | list[DataFrame] | None,
    shards: DataFrame | None = None,
    spec: BloomSpec | None = None,
    track: list | None = None,
    dedup_first: bool = False,
) -> DataFrame:
    """Rows of ``candidates`` whose url is in no part of ``seen``.

    ``seen`` is the LSM view of the seen set: the big bucketed base plus the
    small recent deltas (pass a list ordered big→small; a single DataFrame
    or None also works). Each part is one conditional anti-join —
    ``LEFT ANTI ON (url = url AND maybe_seen)``. ``maybe_seen`` is a
    residual condition, checked only on url matches: every candidate is
    still shuffled, sorted and merged against the whole part (the plan is
    ``SortMergeJoin [url], [_seen_url], LeftAnti, maybe_seen``), so the
    filter saves no join work. Chaining is cheap: after the first join the
    candidate side is already hash-partitioned on url, so later parts only
    shuffle their own (small) side.

    The Bloom probe (:func:`bloom.probe`) is one join on ``blk``; it
    picks broadcast or shuffled shards from the spec's size itself.
    ``track`` is accepted and ignored — the benchmark still passes it.

    ``dedup_first=True`` folds the within-batch first-occurrence dedup INTO
    the admission: probe → anti-joins → first_occurrence. The joins run
    BEFORE the aggregate (round 6): candidates shuffle+sort on url exactly
    once for the sort-merge anti-join, the join drops every already-seen
    url, and the aggregate then runs over the join's url-partitioned,
    url-sorted, pre-thinned output with NO further exchange or sort. The
    round-5 order (aggregate first) paid TWO full sorts — the partial
    SortAggregate sorted every map partition before the shuffle, with
    almost no shuffle reduction to show for it (same-url candidates rarely
    co-locate pre-shuffle) — plus the final aggregate over the un-thinned
    set. Results are identical either way: dropping url ∈ seen commutes
    with per-url min-priority selection, and ``maybe_seen`` is a pure
    function of url. (The probe itself is JVM-side since round 6, so no
    Python eval node can hide the join's partitioning from
    EnsureRequirements wherever the aggregate sits.)

    Correctness never depends on the shards (bloom-positive ⇒ exact check);
    it does require the shards to cover the whole seen set — a missing or
    stale shard's false *negative* would skip the exact check. RoundMeta
    records the spec so resume rebuilds on mismatch (frontier.py)."""
    parts = [seen] if isinstance(seen, DataFrame) else list(seen or [])
    if shards is None:
        out = candidates
        for p in parts:
            out = out.join(p.select("url"), "url", "left_anti")
        return first_occurrence(out) if dedup_first else out
    out = probe(candidates, shards, spec or BloomSpec())
    for p in parts:
        pu = p.select(F.col("url").alias("_seen_url"))
        cond = (F.col("url") == F.col("_seen_url")) & F.col("maybe_seen")
        out = out.join(pu, cond, "left_anti")
    out = out.drop("maybe_seen")
    return first_occurrence(out) if dedup_first else out
