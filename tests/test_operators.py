"""Unit tests for the core relational operators: Bloom shards, admission,
first-occurrence dedup, politeness selection, global ranking."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graven_spark.operators import bloom
from graven_spark.operators.bloom import BloomSpec, build_shards, merge_shards, probe
from graven_spark.operators.dedup import admit_new, first_occurrence
from graven_spark.operators.politeness import gate_robots, select_round
from graven_spark.operators.ranking import with_global_rank

from .conftest import _bloom

SPEC = BloomSpec(n_buckets=4, bits_per_shard=1 << 12, n_hashes=5)


def test_bloom_no_false_negatives(spark):
    urls = spark.createDataFrame([(f"u{i}",) for i in range(500)], "url string")
    shards = build_shards(urls, SPEC)
    probed = probe(urls.select("url"), shards, SPEC)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # every member hits


def test_bloom_merge_is_union(spark):
    a = spark.createDataFrame([(f"a{i}",) for i in range(100)], "url string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(100)], "url string")
    merged = merge_shards(build_shards(a, SPEC), build_shards(b, SPEC))
    probed = probe(a.union(b), merged, SPEC)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_admit_new_with_and_without_bloom_agree(spark):
    cand = spark.createDataFrame(
        [(f"u{i}", i) for i in range(200)], "url string, priority long"
    )
    seen = spark.createDataFrame(
        [(0, f"u{i}") for i in range(0, 200, 2)], "url_hash long, url string"
    )
    exact = {r.url for r in admit_new(cand, seen).collect()}
    shards = build_shards(seen, SPEC)
    with_bloom = {r.url for r in admit_new(cand, seen, shards, SPEC).collect()}
    assert exact == with_bloom == {f"u{i}" for i in range(1, 200, 2)}


def test_first_occurrence_keeps_min_priority(spark):
    df = spark.createDataFrame(
        [("u", 5, "a"), ("u", 2, "b"), ("v", 9, "c")],
        "url string, priority long, tag string",
    )
    got = {r.url: (r.priority, r.tag) for r in first_occurrence(df).collect()}
    assert got == {"u": (2, "b"), "v": (9, "c")}


def _frontier(spark, rows):
    return spark.createDataFrame(
        rows,
        "url string, host string, depth int, priority bigint, "
        "parent_url string, discovery_idx int, retry_count int",
    )


def test_select_round_budget_and_order(spark):
    rows = [
        (f"https://h1/x{i}/", "h1", 0, i, None, 0, 0) for i in range(10)
    ] + [(f"https://h2/y{i}/", "h2", 0, 100 + i, None, 0, 0) for i in range(3)]
    frontier = _frontier(spark, rows)
    robots = spark.createDataFrame(
        [("h1", [], 4), ("h2", [], 2)],
        "host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )
    flagged = select_round(frontier, robots, n_salts=3)
    sel = {r.url for r in flagged.filter("selected").collect()}
    # per host: budget-many smallest priorities
    assert sel == {f"https://h1/x{i}/" for i in range(4)} | {
        "https://h2/y0/", "https://h2/y1/"
    }
    assert flagged.count() == 13  # nothing lost


def test_select_round_salt_count_invariant(spark):
    """n_salts is a pure performance knob: the selected set is identical at
    every salt count (the salted window only PRUNES candidates above the
    k-th priority; the exact per-host selection runs after)."""
    rows = [
        (f"https://mega/x{i}/", "mega", 0, (i * 37) % 101, None, 0, 0)
        for i in range(60)
    ] + [(f"https://h{i}/y/", f"h{i}", 0, i, None, 0, 0) for i in range(5)]
    frontier = _frontier(spark, rows)
    robots = spark.createDataFrame(
        [("mega", [], 7)],
        "host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )
    base = None
    for n_salts in (1, 4, 16):
        sel = {r.url for r in select_round(frontier, robots, n_salts=n_salts)
               .filter("selected").collect()}
        base = sel if base is None else base
        assert sel == base
    assert len(base) == 12  # mega budget 7 + 5 singleton hosts


def test_select_round_mixed_budgets_read_robots_once(spark):
    """One host per budget case — 0, NULL, no robots row, equal to its row
    count, below it — selects what a plain-Python per-host sort selects, and
    the plan scans the robots frame once (budgets join the per-host counts,
    not the frontier)."""
    n_rows = {"zero": 3, "null": 5, "none": 4, "equal": 4, "below": 6}
    budgets = {"zero": 0, "null": None, "equal": 4, "below": 2}
    default = 3
    rows = [(f"https://{h}/p{i}/", h, 0, (i * 7919) % 101 - 50, None, 0, 0)
            for h, n in n_rows.items() for i in range(n)]
    robots = spark.createDataFrame(
        [(h, [], b) for h, b in budgets.items()],
        "host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )
    flagged = select_round(_frontier(spark, rows), robots, default_budget=default, n_salts=2)
    want = set()
    for h in n_rows:
        budget = default if budgets.get(h) is None else budgets[h]
        host_rows = sorted((r for r in rows if r[1] == h), key=lambda r: r[3])
        want |= {r[0] for r in host_rows[:max(budget, 0)]}
    assert {r.url for r in flagged.filter("selected").collect()} == want
    plan = flagged._jdf.queryExecution().sparkPlan().toString()
    robots_scans = [ln for ln in plan.splitlines() if "ExistingRDD" in ln and "crawl_delay_tokens" in ln]
    assert len(robots_scans) == 1, plan


def test_gate_robots_prefix(spark):
    cand = spark.createDataFrame(
        [("https://h1/block/a/", "h1"), ("https://h1/ok/", "h1"), ("https://h9/x/", "h9")],
        "url string, host string",
    )
    robots = spark.createDataFrame(
        [("h1", ["/block/"], 5)],
        "host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )
    got = {r.url for r in gate_robots(cand, robots).collect()}
    assert got == {"https://h1/ok/", "https://h9/x/"}  # unknown host passes


def test_global_rank_dense_and_ordered(spark):
    df = spark.createDataFrame([(i * 7 % 97,) for i in range(97)], "priority long")
    ranked, n, pinned = with_global_rank(df, "priority", "rnk", num_partitions=5)
    rows = sorted((r.priority, r.rnk) for r in ranked.collect())
    assert n == 97
    assert [r[1] for r in rows] == list(range(97))  # rank == sort position
    pinned.unpersist()


def test_global_rank_sparse_buckets(spark):
    """Analytic path with most of 64 buckets empty (keys at the extremes of
    the long range) and with a single row: ranks stay dense and equal each
    key's sort position."""
    keys = [-(1 << 62), -(1 << 62) + 1, -1, 0, 1, 2, 1000, (1 << 62) - 1, 1 << 62, 7]
    df = spark.createDataFrame([(k,) for k in keys], "priority long")
    for d, want in ((df, sorted(keys)), (df.filter(F.col("priority") == 1), [1])):
        ranked, n, pinned = with_global_rank(d, "priority", "rnk", num_partitions=64)
        rows = sorted((r.rnk, r.priority) for r in ranked.collect())
        assert n == len(want)
        assert rows == list(enumerate(want))
        pinned.unpersist()


def _probe_reference(spark, members: list[str], cand: list[str], spec: BloomSpec) -> dict:
    """Driver-side oracle: a plain-Python blocked Bloom filter over the
    JVM-computed ``_h1``/``_h2``. A candidate is maybe-seen iff every one of
    its in-block positions was set by some member in the same block — plain
    position sets, independent of how the shards pack their bits."""
    bits = min(spec.bits_per_shard, 512)
    blocks = spec.bits_per_shard // bits

    def hashed(urls):
        df = spark.createDataFrame([(u,) for u in urls], "url string")
        for r in bloom.with_bloom_hashes(df, "url", spec).collect():
            h2 = r._h2 % (1 << 64)
            first, step = h2 % bits, ((h2 >> 16) | 1) % bits
            blk = r.bucket * blocks + (h2 >> 32) % blocks
            yield r.url, blk, {(first + i * step) % bits for i in range(spec.n_hashes)}

    set_bits: dict[int, set] = {}
    for _, blk, pos in hashed(members):
        set_bits.setdefault(blk, set()).update(pos)
    return {url: pos <= set_bits.get(blk, set()) for url, blk, pos in hashed(cand)}


def test_probe_strategies_match_numpy_reference(spark, monkeypatch):
    """The broadcast and the shuffled probe must agree bit for bit with the
    plain-Python blocked reference on every url — members AND non-members,
    so false positives must match too (the dense spec makes ~9% of them) —
    for one build and for a merge of two builds. The edge specs — one word
    and one hash per shard, and 2^24-bit shards of 2^15 blocks — run under
    ANSI mode, which aborts on any long overflow in the bit layout."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    dense = BloomSpec(n_buckets=4, bits_per_shard=1 << 9, n_hashes=3)
    member_urls = [f"m{i}" for i in range(400)]
    cand_urls = member_urls + [f"x{i}" for i in range(2000)]
    members = spark.createDataFrame([(u,) for u in member_urls], "url string")
    cand = spark.createDataFrame([(u,) for u in cand_urls], "url string")
    halves = members.filter(F.col("url") < "m2"), members.filter(F.col("url") >= "m2")
    limit = bloom.BROADCAST_LIMIT
    for spec in (dense, BloomSpec(bits_per_shard=64, n_hashes=1),
                 BloomSpec(n_buckets=2, bits_per_shard=1 << 24)):
        want = _probe_reference(spark, member_urls, cand_urls, spec)
        merged = merge_shards(*(build_shards(h, spec) for h in halves))
        for shards in (build_shards(members, spec), merged):
            monkeypatch.setattr(bloom, "BROADCAST_LIMIT", limit)
            broadcast = probe(cand, shards, spec)
            monkeypatch.setattr(bloom, "BROADCAST_LIMIT", 0)
            shuffled = probe(cand, shards, spec)
            assert "BroadcastHashJoin" in broadcast._jdf.queryExecution().sparkPlan().toString()
            assert "SortMergeJoin" in shuffled._jdf.queryExecution().sparkPlan().toString()
            for probed in (broadcast, shuffled):
                got = {r.url: r.maybe_seen for r in probed.collect()}
                assert got == want
        assert all(want[u] for u in member_urls)  # no false negatives
        if spec == dense:
            false_pos = sum(want[u] for u in cand_urls[len(member_urls):])
            assert 0 < false_pos < 1000


def test_bloom_spec_rejects_invalid_sizes():
    """Sizes the blocked layout cannot serve fail at construction: a shard
    must hold whole 64-bit words, and either whole 512-bit blocks or one
    block, so every in-block position and block index is a mask."""
    for bad in (
        dict(bits_per_shard=3000),
        dict(bits_per_shard=32),
        dict(bits_per_shard=0),
        dict(n_buckets=0),
        dict(n_hashes=0),
    ):
        with pytest.raises(ValueError):
            BloomSpec(**bad)
    assert BloomSpec(bits_per_shard=64).shard_nbytes == 8


# -- politeness budgets and Bloom probe strategies ---------------------------

def test_budget_zero_selects_nothing(spark):
    frontier = spark.createDataFrame(
        [(f"https://h{i % 2}/p{i}/", f"h{i % 2}", 0, i, None, 0, 0) for i in range(10)],
        "url string, host string, depth int, priority long, parent_url string, "
        "discovery_idx int, retry_count int",
    )
    robots = spark.createDataFrame(
        [("h0", [], 0), ("h1", [], 3)],
        "host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )
    sel = select_round(frontier, robots).filter(F.col("selected")).collect()
    hosts = {r.host for r in sel}
    assert hosts == {"h1"}  # budget-0 host selects NOTHING, not everything
    assert len(sel) == 3


def test_select_round_bytes(spark):
    from graven_spark.operators.politeness import select_round_bytes

    rows = []
    for h in range(3):
        for i in range(20):
            rows.append((f"h{h}", h * 100 + i, 7 + (i * 13) % 40))
    rows.append(("big", 999, 10_000))  # oversized first row: progress row
    # unknown sizes: a NULL row is admitted only as the host's first row and
    # adds nothing to the running total; NULL rows below the threshold ride
    # along (running totals -, 60, -, 90, 110 → admitted 700 as the first
    # row, 701 and 703; threshold 703)
    for i, b_ in enumerate([None, 60, None, 30, 20]):
        rows.append(("nul", 700 + i, b_))
    fr = spark.createDataFrame(rows, "host string, priority long, est_bytes long")

    def sel_set(df):
        return {(r.host, r.priority) for r in df.filter(F.col("selected")).collect()}

    a = sel_set(select_round_bytes(fr, byte_budget=100))
    b = sel_set(select_round_bytes(fr, byte_budget=100, min_row_bytes=7))
    assert a == b  # salted prune is a pure optimization
    assert ("big", 999) in a  # progress guarantee
    assert {k for k in a if k[0] == "nul"} == {("nul", 700 + i) for i in range(4)}
    # per-host: admitted = maximal prefix with cumsum <= budget (min 1 row)
    for h in range(3):
        prefix = [(f"h{h}", h * 100 + i) for i in range(20)]
        byts = [7 + (i * 13) % 40 for i in range(20)]
        cum, want = 0, set()
        for (key, b_) in zip(prefix, byts):
            cum += b_
            if cum <= 100 or not want:
                want.add(key)
            else:
                break
        assert {k for k in a if k[0] == f"h{h}"} == want


def test_admit_new_probe_paths_agree(spark, monkeypatch):
    """Admission through the broadcast and the shuffled probe admits exactly
    the candidates not in seen."""
    from graven_spark.operators import bloom

    cand = spark.createDataFrame(
        [(f"u{i}", i) for i in range(200)], "url string, priority long"
    )
    seen = spark.createDataFrame(
        [(0, f"u{i}") for i in range(0, 200, 2)], "url_hash long, url string"
    )
    spec = _bloom(bits=1 << 12, buckets=4)
    shards = bloom.build_shards(seen, spec)
    via_broadcast = admit_new(cand, seen, shards, spec)
    monkeypatch.setattr(bloom, "BROADCAST_LIMIT", 0)
    via_shuffled = admit_new(cand, seen, shards, spec)
    a = sorted(r.url for r in via_broadcast.collect())
    b = sorted(r.url for r in via_shuffled.collect())
    assert a == b == [f"u{i}" for i in sorted(range(1, 200, 2), key=lambda x: f"u{x}")]
