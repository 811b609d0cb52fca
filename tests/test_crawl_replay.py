"""The replay contract (SURVEY.md §5.1, BASELINE.json north_rule): the Spark
engine must reproduce the single-threaded reference oracle exactly —
round-by-round frontier contents + priority order, final URL-seen set,
results (with byte-identical extracted text), errors, and lineage totals —
under the same seed list and politeness budget. Also retry/requeue, the
domain-lifecycle fold and termination on cyclic link graphs.
"""

from __future__ import annotations

import importlib.util
import itertools
import json
from pathlib import Path

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graven_spark.oracle import crawl_oracle, domains_oracle
from graven_spark.plans.driver import crawl
from graven_spark.plans.frontier import CrawlConfig, _checkpoint_counting, fold_domains
from graven_spark.operators.bloom import BloomSpec
from graven_spark.sources.checkpoint import DOMAINS_SCHEMA

from .conftest import _bloom, _cfg, _write_pages, pages_dict, robots_dict

FRONTIER_KEY = ["priority", "url", "host", "depth", "parent_url", "discovery_idx"]


def _setup(tmp_path, graph, with_robots: bool):
    tmp_path.mkdir(parents=True, exist_ok=True)
    pages_path = str(tmp_path / "pages.parquet")
    graph.pages.to_parquet(pages_path, index=False)
    robots_pd = graph.robots if with_robots else None
    return pages_path, robots_pd


def _spark_inputs(spark, graph, robots_pd):
    seeds = spark.createDataFrame(graph.seeds)
    robots = (
        spark.createDataFrame(
            robots_pd, schema="host string, disallow_prefixes array<string>, crawl_delay_tokens int"
        )
        if robots_pd is not None
        else None
    )
    return seeds, robots


def _run_both(spark, tmp_path, graph, with_robots: bool, cfg: CrawlConfig):
    pages_path, robots_pd = _setup(tmp_path, graph, with_robots)
    seeds, robots = _spark_inputs(spark, graph, robots_pd)
    out = crawl(spark, pages_path, seeds, robots, str(tmp_path / "state"), cfg)
    ora = crawl_oracle(
        pages_dict(graph.pages),
        list(graph.seeds.sort_values("seed_rank")["url"]),
        robots_dict(robots_pd) if robots_pd is not None else None,
        jar_limit=cfg.jar_limit,
    )
    return out, ora


def _assert_match(spark, out, ora):
    # final round count: oracle snapshots = number of executed rounds
    assert out.final_round == len(ora.frontier_snapshots)

    # per-round frontier contents + priority order
    for k, snap in enumerate(ora.frontier_snapshots):
        got = (
            out.frontier(spark, k)
            .orderBy("priority")
            .select(*FRONTIER_KEY)
            .collect()
        )
        want = [
            (r.priority, r.url, r.host, r.depth, r.parent_url, r.discovery_idx)
            for r in snap
        ]
        assert [tuple(r) for r in got] == want, f"frontier mismatch at round {k}"

    # URL-seen set
    got_seen = {r.url for r in out.seen(spark).select("url").collect()}
    assert got_seen == ora.seen

    # results incl. byte-identical text and publish_ts
    got_res = {
        r.url: (r.warc_ts, r.text, r.lang, r.depth, r.round, r.publish_ts)
        for r in out.results(spark).collect()
    }
    want_res = {
        r["url"]: (r["warc_ts"], r["text"], r["lang"], r["depth"], r["round"], r["publish_ts"])
        for r in ora.results
    }
    assert got_res == want_res

    # errors as multisets, incl. the JSON details context
    got_err = sorted(
        (r.round, r.url, r.stage, r.reason, r.details)
        for r in out.errors(spark).collect()
    )
    want_err = sorted(
        (e["round"], e["url"], e["stage"], e["reason"], e["details"])
        for e in ora.errors
    )
    assert got_err == want_err

    # lineage: per-round totals
    lin = (
        out.lineage(spark)
        .groupBy("round")
        .sum("urls_in", "urls_out", "bytes_fetched")
        .collect()
    )
    got_lin = {r["round"]: tuple(r)[1:] for r in lin}
    want_lin = {
        l["round"]: (l["urls_in"], l["urls_out"], l["bytes_fetched"]) for l in ora.lineage
    }
    assert got_lin == want_lin


def test_replay_smoke_unbounded(spark, smoke_graph, tmp_path):
    """No politeness budget: pure BFS, rounds = depth levels."""
    cfg = CrawlConfig(use_bloom=True, bloom=BloomSpec(n_buckets=8, bits_per_shard=1 << 16))
    out, ora = _run_both(spark, tmp_path, smoke_graph, with_robots=False, cfg=cfg)
    _assert_match(spark, out, ora)
    assert len(ora.results) > 50  # sanity: the graph actually has leaves


def test_replay_smoke_budgeted_with_robots(spark, smoke_graph, tmp_path):
    """Politeness budget (5/host/round) + robots gating: deferral order must
    match the oracle's FIFO exactly across many more rounds."""
    cfg = CrawlConfig(use_bloom=True, bloom=BloomSpec(n_buckets=8, bits_per_shard=1 << 16))
    out, ora = _run_both(spark, tmp_path, smoke_graph, with_robots=True, cfg=cfg)
    assert out.final_round > 3  # budget actually forced deferrals
    _assert_match(spark, out, ora)


def test_replay_jar_limit_global_cap(spark, smoke_graph, tmp_path):
    """T3 --jar-limit (reference downloader.py:60,188-195 semaphore): a
    global per-round cap of 7 URLs must defer identically to the oracle —
    the over-limit rows re-enter the next frontier with priority intact, so
    frontier snapshots, seen set, results and lineage all still replay."""
    cfg = CrawlConfig(
        use_bloom=True, bloom=BloomSpec(n_buckets=8, bits_per_shard=1 << 16),
        jar_limit=7,
    )
    out, ora = _run_both(spark, tmp_path, smoke_graph, with_robots=False, cfg=cfg)
    # the cap actually bit: more rounds than the unbounded BFS depth levels
    uncapped = crawl_oracle(
        pages_dict(smoke_graph.pages),
        list(smoke_graph.seeds.sort_values("seed_rank")["url"]),
    )
    assert len(ora.frontier_snapshots) > len(uncapped.frontier_snapshots)
    assert all(l["urls_in"] <= 7 for l in ora.lineage)
    _assert_match(spark, out, ora)


def test_bloom_off_equals_bloom_on(spark, smoke_graph, tmp_path):
    """The Bloom pre-filter is a pure optimization: identical outputs off/on."""
    cfg_off = CrawlConfig(use_bloom=False)
    out_off, ora = _run_both(spark, tmp_path / "off", smoke_graph, False, cfg_off)
    _assert_match(spark, out_off, ora)


def _bare_session(spark):
    bare = spark.newSession()
    bare.conf.set("spark.sql.execution.arrow.pyspark.enabled", "false")
    bare.conf.set("spark.sql.ansi.enabled", "true")
    return bare


def test_replay_session_independent(spark, smoke_graph, tmp_path):
    """The engine's answers must not depend on the session config: a
    Bloom-on crawl in a fresh session with Arrow conversion off and ANSI on
    still replays the oracle."""
    bare = _bare_session(spark)
    cfg = CrawlConfig(use_bloom=True, bloom=BloomSpec(n_buckets=8, bits_per_shard=1 << 16))
    out, ora = _run_both(bare, tmp_path, smoke_graph, with_robots=False, cfg=cfg)
    _assert_match(bare, out, ora)


@pytest.mark.parametrize("bare", [False, True], ids=["repo_session", "bare_session"])
def test_observed_counts_match_checkpoint(spark, bare):
    """A crawl depth's counts are observed on its one eager localCheckpoint,
    not counted by jobs of their own. The observed counts must arrive with
    that checkpoint and equal counts of the checkpointed frame — over a
    broadcast join and an aggregate, for an empty frame, twice in one
    session, in the repo session and in a bare one (Arrow off, ANSI on)."""
    s = _bare_session(spark) if bare else spark
    for _ in range(2):
        rows = s.range(200).select((F.col("id") % 13).alias("g"), "id")
        dim = s.range(13).select(F.col("id").alias("g"),
                                 (F.col("id") % 2 == 0).alias("even"))
        agg = (rows.join(F.broadcast(dim), "g")
               .groupBy("g", "even").agg(F.count("*").alias("n")))
        for frame in (agg, agg.filter(F.col("n") < 0)):
            cp, n = _checkpoint_counting(frame, rows=F.lit(True), even=F.col("even"))
            assert n == {"rows": cp.count(), "even": cp.filter(F.col("even")).count()}
    assert n == {"rows": 0, "even": 0}


def test_oracle_queries_session_independent(spark):
    """The crawl and pipeline oracle queries of ``__spark_entry__`` answer
    the same in a session with Arrow conversion off and ANSI on: each equals
    its DuckDB oracle, compared as ``scripts/check_oracle.py`` compares."""
    import duckdb

    import __spark_entry__ as entrymod

    script = Path(__file__).resolve().parent.parent / "scripts" / "check_oracle.py"
    spec = importlib.util.spec_from_file_location("check_oracle", script)
    check_oracle = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check_oracle)
    bare = _bare_session(spark)
    oracles, con = entrymod.oracle_sql(), duckdb.connect()
    entrymod._CRAWL_CACHE.clear()  # the smoke crawl runs in the bare session
    try:
        for name in ("crawl_smoke", "domain_lifecycle", "run_pipeline_jars"):
            got = getattr(entrymod, f"q_{name}")(bare, None).toPandas()
            got = check_oracle.normalize(got)
            want = check_oracle.normalize(con.sql(oracles[name]).df())
            assert list(got.columns) == list(want.columns), name
            assert len(got) == len(want), name
            pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                          check_exact=False, atol=1e-9)
    finally:
        con.close()
        entrymod._CRAWL_CACHE.clear()


@pytest.mark.slow
def test_replay_t2_multihost_skewed(spark, t2_graph, tmp_path):
    """8 hosts, ~6k pages, one host owns half the URLs (salting path),
    robots disallow rules active, generous budget."""
    cfg = CrawlConfig(use_bloom=True, bloom=BloomSpec(n_buckets=8, bits_per_shard=1 << 18))
    out, ora = _run_both(spark, tmp_path, t2_graph, with_robots=True, cfg=cfg)
    _assert_match(spark, out, ora)
    # robots actually blocked something: host4's d0s1 subtree is disallowed
    blocked_prefix = "https://host4.example.com/maven2/d0s1/"
    assert not any(u.startswith(blocked_prefix) for u in ora.seen)
    assert any(u.startswith("https://host4.example.com/maven2/d0s2/") for u in ora.seen)


# -- retry/requeue, domain lifecycle, cycles -----------------------------------

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


def test_domains_match_oracle_fold(spark, smoke_graph, tmp_path):
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom())
    out, ora = _run_both(spark, tmp_path, smoke_graph, with_robots=True, cfg=cfg)
    got = {
        r.host: (r.status, r.start_round, r.end_round)
        for r in out.domains(spark).collect()
    }
    assert got == domains_oracle(ora)
    assert all(s == "COMPLETED" for s, _, _ in got.values())


def test_fold_domains_equals_per_round_fold(spark):
    """One fold over a batched commit's depths equals one step per depth
    (the loop of ``oracle.domains_oracle``), for every prior state — no
    row, open, completed — and every presence pattern over three rounds,
    re-discovery inside the batch included. No crawl runs."""
    rounds = [5, 6, 7]
    priors = {
        "none": None,
        "open": ("IN_PROGRESS", 2, None),
        "done": ("COMPLETED", 1, 3),
    }
    prev_rows, present, want = [], {r: [] for r in rounds}, {}
    for (pname, prior), pattern in itertools.product(
        priors.items(), itertools.product([False, True], repeat=len(rounds))
    ):
        host = f"{pname}-{''.join('x' if p else '.' for p in pattern)}"
        if prior is not None:
            prev_rows.append((host, *prior))
        state = prior
        for r, p in zip(rounds, pattern):
            # one step of oracle.domains_oracle's per-round loop
            if p:
                present[r] += [(host,), (host,)]  # a host has many frontier rows
                state = ("IN_PROGRESS", state[1] if state else r, None)
            elif state is not None:
                _status, start, end = state
                state = ("COMPLETED", start, end if end is not None else r)
        if state is not None:
            want[host] = state
    assert len(want) == 23  # every combination but "no row, never present"
    prev = spark.createDataFrame(prev_rows, DOMAINS_SCHEMA)
    frontiers = [(r, spark.createDataFrame(present[r], "host string")) for r in rounds]
    got = {
        r.host: (r.status, r.start_round, r.end_round)
        for r in fold_domains(prev, frontiers).collect()
    }
    assert got == want


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


def test_error_details_json_context(spark, smoke_graph, tmp_path):
    """Every error row carries a JSON details object with per-stage context
    (reference error_log.details): attempt number for crawler fetch
    failures, parent_url + depth everywhere."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    out = crawl(spark, pages_path, seeds, None, str(tmp_path / "state"),
                _cfg(max_retries=1))
    errs = out.errors(spark).collect()
    assert errs
    by_stage: dict[str, list[dict]] = {}
    for r in errs:
        det = json.loads(r.details)
        by_stage.setdefault((r.stage, r.reason), []).append(det)
    dead = by_stage[("crawler", "fetch_failed")]
    assert {d["attempt"] for d in dead} == {1, 2}  # each retry logs its attempt
    assert all("depth" in d and "parent_url" in d for d in dead)
    leaf = by_stage[("download", "fetch_failed")]
    assert all(d["parent_url"] and d["depth"] >= 1 for d in leaf)
