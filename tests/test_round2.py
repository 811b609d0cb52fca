"""Round-2 semantics: retry/requeue (U4), domain lifecycle, budget-0
politeness, Bloom probe strategies, cycle fixtures, and the update
(re-process) modes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from graven_spark.operators.bloom import BloomSpec
from graven_spark.operators.dedup import admit_new
from graven_spark.operators.politeness import select_round
from graven_spark.oracle import crawl_oracle, domains_oracle
from graven_spark.plans.driver import crawl
from graven_spark.plans.frontier import CrawlConfig
from graven_spark.sources import synth

from .conftest import pages_dict, robots_dict
from .test_crawl_replay import _assert_match, _run_both


def _bloom(bits: int = 1 << 16, buckets: int = 8) -> BloomSpec:
    return BloomSpec(n_buckets=buckets, bits_per_shard=bits)


# -- U4 retry/requeue ---------------------------------------------------------

def test_replay_with_retries(spark, smoke_graph, tmp_path):
    """Failed dir fetches requeue with retry_count+1 up to max_retries; each
    attempt logs an error row. Engine must match the oracle exactly,
    including retry_count in the frontier snapshots."""
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom(), max_retries=2)
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    out = crawl(spark, pages_path, seeds, None, str(tmp_path / "state"), cfg)
    ora = crawl_oracle(
        pages_dict(smoke_graph.pages),
        list(smoke_graph.seeds.sort_values("seed_rank")["url"]),
        None,
        max_retries=2,
    )
    _assert_match(spark, out, ora)
    # retry_count is reproduced exactly, and a dead URL really was retried
    retried = {}
    for k, snap in enumerate(ora.frontier_snapshots):
        got = {
            r.url: r.retry_count
            for r in out.frontier(spark, k).select("url", "retry_count").collect()
        }
        want = {r.url: r.retry_count for r in snap}
        assert got == want, f"retry_count mismatch at round {k}"
        retried.update({u: c for u, c in want.items() if c > 0})
    assert retried and max(retried.values()) == 2
    # each dead dir erred once per attempt: attempts = 1 + max_retries
    dead_errs = [e for e in ora.errors if e["stage"] == "crawler"]
    per_url = {}
    for e in dead_errs:
        per_url[e["url"]] = per_url.get(e["url"], 0) + 1
    assert per_url and set(per_url.values()) == {3}


# -- domain lifecycle ---------------------------------------------------------

def test_domains_match_oracle_fold(spark, smoke_graph, tmp_path):
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom())
    out, ora = _run_both(spark, tmp_path, smoke_graph, with_robots=True, cfg=cfg)
    got = {
        r.host: (r.status, r.start_round, r.end_round)
        for r in out.domains(spark).collect()
    }
    assert got == domains_oracle(ora)
    assert all(s == "COMPLETED" for s, _, _ in got.values())


# -- politeness budget <= 0 ---------------------------------------------------

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


# -- Bloom probe strategies ---------------------------------------------------

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


# -- cycle fixtures: termination + no refetch -----------------------------------

def test_cycles_no_url_fetched_twice(smoke_graph):
    """The graph contains ancestor back-edges (synth cycle_every); the crawl
    must terminate with every URL fetched at most once and each back-edge
    collapsing to exactly one dead-link error."""
    # the fixture really contains ancestor anchors
    assert any(
        b'href="https://host0.example.com/maven2/"' in h
        for h in smoke_graph.pages.html
    )
    ora = crawl_oracle(
        pages_dict(smoke_graph.pages),
        list(smoke_graph.seeds.sort_values("seed_rank")["url"]),
    )
    # No politeness budget ⇒ every frontier row is fetched in its round, so
    # "no URL fetched twice" == all snapshot rows globally unique.
    all_rows = [r.url for snap in ora.frontier_snapshots for r in snap]
    assert len(all_rows) == len(set(all_rows))
    # each back-edge URL (parent + absolute root) was seen once, errored once
    cycle_urls = [u for u in ora.seen if "https://" in u.removeprefix("https://")]
    assert cycle_urls
    err_urls = [e["url"] for e in ora.errors]
    for u in cycle_urls:
        assert err_urls.count(u) == 1


# -- update (re-process) modes ---------------------------------------------------

def test_update_domain_reopens_and_recrawls(spark, smoke_graph, tmp_path):
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom())
    d = str(tmp_path / "state")

    first = crawl(spark, pages_path, seeds, None, d, cfg)
    want_seen = sorted(r.url for r in first.seen(spark).collect())
    want_res = sorted((r.url, r.text) for r in first.results(spark).collect())
    k1 = first.final_round

    cfg2 = CrawlConfig(use_bloom=True, bloom=_bloom(),
                       update_domains=["host0.example.com"])
    second = crawl(spark, pages_path, seeds, None, d, cfg2)
    assert second.final_round > k1  # the host actually re-crawled
    # deterministic pages ⇒ identical final seen set and results
    assert sorted(r.url for r in second.seen(spark).collect()) == want_seen
    assert sorted((r.url, r.text) for r in second.results(spark).collect()) == want_res
    doms = {r.host: r.status for r in second.domains(spark).collect()}
    assert doms["host0.example.com"] == "COMPLETED"


def test_update_domain_reseeds_normalized_roots(spark, smoke_graph, tmp_path):
    """--update-domain under --normalize-urls re-seeds the host's root in
    the same normalized form the first crawl seeded and purged it in: an
    un-normalized re-seed of a ``:443`` seed matches no host, and the purged
    domain is never crawled again."""
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    raw = smoke_graph.seeds.copy()
    raw["url"] = raw["url"].str.replace(".example.com/", ".example.com:443/")
    seeds = spark.createDataFrame(raw)
    d = str(tmp_path / "state")

    first = crawl(spark, pages_path, seeds, None, d,
                  CrawlConfig(bloom=_bloom(), normalize_urls=True, max_rounds=1))
    roots = [r.url for r in first.frontier(spark, 0).collect()
             if r.host == "host0.example.com"]
    assert len(roots) == 1 and ":443" not in roots[0]

    cfg2 = CrawlConfig(bloom=_bloom(), normalize_urls=True, max_rounds=2,
                       update_domains=["host0.example.com"])
    second = crawl(spark, pages_path, seeds, None, d, cfg2)
    assert second.final_round == first.final_round + 1
    assert roots[0] in {r.url for r in second.frontier(spark, second.final_round).collect()}


def test_update_jar_restamps_results(spark, smoke_graph, tmp_path):
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom())
    d = str(tmp_path / "state")

    first = crawl(spark, pages_path, seeds, None, d, cfg)
    before = {r.url: (r.text, r.round) for r in first.results(spark).collect()}
    prefix = "https://host0.example.com/maven2/d0s0/"
    cfg2 = CrawlConfig(use_bloom=True, bloom=_bloom(), update_url_prefix=prefix)
    second = crawl(spark, pages_path, seeds, None, d, cfg2)
    after = {r.url: (r.text, r.round) for r in second.results(spark).collect()}

    assert set(after) == set(before)  # one row per url (newest wins), no dups
    bumped = [u for u in after if u.startswith(prefix)]
    assert bumped
    for u, (text, rnd) in after.items():
        assert text == before[u][0]  # byte-identical re-extraction
        if u.startswith(prefix):
            assert rnd == first.final_round + 1
        else:
            assert rnd == before[u][1]
