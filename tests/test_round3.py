"""Round-3 additions: run_log lifecycle, error-details context, update-mode
edge cases (re-fetch failure logging, immediate IN_PROGRESS stamp for
newly-seeded update hosts), and the composed `run` pipeline.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from graven_spark.operators.bloom import BloomSpec
from graven_spark.plans.driver import crawl
from graven_spark.plans.frontier import CrawlConfig
from graven_spark.sources.checkpoint import RoundStore


def _bloom():
    return BloomSpec(n_buckets=4, bits_per_shard=1 << 16)


def _cfg(**kw):
    return CrawlConfig(use_bloom=True, bloom=_bloom(), **kw)


def _write_pages(graph, tmp_path):
    pages_path = str(tmp_path / "pages.parquet")
    graph.pages.to_parquet(pages_path, index=False)
    return pages_path


# -- run_log (reference /root/reference/ddl/0_run_log.sql) --------------------

def test_run_log_brackets_each_invocation(spark, smoke_graph, tmp_path):
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    d = str(tmp_path / "state")

    first = crawl(spark, pages_path, seeds, None, d, _cfg(max_rounds=2))
    second = crawl(spark, pages_path, seeds, None, d, _cfg())
    rows = {r.seq: r for r in second.run_log(spark).collect()}
    assert rows[0].exit_status == "OK" and rows[0].start_round == 0
    assert rows[0].end_round == first.final_round
    assert rows[1].exit_status == "OK"
    assert rows[1].start_round == first.final_round
    assert rows[1].end_round == second.final_round
    assert rows[0].started_at is not None and rows[0].ended_at is not None


def test_run_log_closes_killed_run_on_resume(spark, smoke_graph, tmp_path):
    """A run that died before its end event (kill -9 analog) is closed as
    KILLED at the latest committed round by the next invocation."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    d = str(tmp_path / "state")

    truncated = crawl(spark, pages_path, seeds, None, d, _cfg(max_rounds=2))
    store = RoundStore(d)
    store.log_run_start("killed_run", truncated.final_round)  # dangling start

    resumed = crawl(spark, pages_path, seeds, None, d, _cfg())
    rows = {r.seq: r for r in resumed.run_log(spark).collect()}
    killed = rows[1]
    assert killed.run_id == "killed_run"
    assert killed.exit_status == "KILLED"
    assert killed.end_round == truncated.final_round  # closed at last commit
    assert rows[2].exit_status == "OK"
    assert rows[2].end_round == resumed.final_round


# -- error details ------------------------------------------------------------

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


def test_update_jar_refetch_failure_is_logged(spark, smoke_graph, tmp_path):
    """--update-jar targets missing from pages must produce fetch_failed
    error rows (not silently keep the stale result row without trace)."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    d = str(tmp_path / "state")
    first = crawl(spark, pages_path, seeds, None, d, _cfg())
    res = first.results(spark).select("url").collect()
    prefix = "https://host0.example.com/maven2/d0s0/"
    victims = sorted(r.url for r in res if r.url.startswith(prefix))
    assert victims

    # drop one recorded result url from pages, then update-jar the prefix
    pages2 = smoke_graph.pages[smoke_graph.pages.url != victims[0]]
    pages2_path = str(tmp_path / "pages2.parquet")
    pages2.to_parquet(pages2_path, index=False)
    second = crawl(spark, pages2_path, seeds, None, d,
                   _cfg(update_url_prefix=prefix))
    errs = [
        r for r in second.errors(spark).collect()
        if r.round == first.final_round + 1
    ]
    assert [r.url for r in errs] == [victims[0]]
    det = json.loads(errs[0].details)
    assert det == {"stage_ctx": "update_jar", "prefix": prefix}
    # the stale row is retained (newest-wins keeps the old round's row)
    before = {r.url: r.round for r in first.results(spark).collect()}
    after = {r.url: r.round for r in second.results(spark).collect()}
    assert after[victims[0]] == before[victims[0]]


def test_update_domain_new_host_stamped_immediately(spark, smoke_graph, tmp_path):
    """An --update-domain host whose seed is new (no prior domain row) gets
    its IN_PROGRESS/start_round row in the SAME transition round, not one
    round late."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    d = str(tmp_path / "state")
    first = crawl(spark, pages_path, seeds, None, d, _cfg())
    k1 = first.final_round

    # second host appears only in the update invocation's seed list
    host2 = "host9.example.com"
    seeds2 = spark.createDataFrame(
        pd.concat([
            smoke_graph.seeds,
            pd.DataFrame([{"seed_rank": len(smoke_graph.seeds), "url": f"https://{host2}/maven2/"}]),
        ], ignore_index=True)
    )
    store = RoundStore(d)
    from graven_spark.plans.driver import _reopen_domains

    meta = _reopen_domains(
        spark, store, k1, seeds2, None,
        _cfg(update_domains=["host0.example.com", host2]),
    )
    doms = {r.host: (r.status, r.start_round)
            for r in store.read_domains(spark, meta.round).collect()}
    assert doms["host0.example.com"] == ("IN_PROGRESS", k1 + 1)
    assert doms[host2] == ("IN_PROGRESS", k1 + 1)  # new host: not a round late


# -- frontier-size-adaptive round batching (SURVEY.md §7.4.5) -----------------

def _chain_graph(depth: int):
    """A depth-N chain (fanout 1): every dir has exactly one child dir and
    one leaf — the worst case for per-depth commit overhead."""
    import datetime as dt

    from graven_spark.core import extract_text_py
    from graven_spark.sources.synth import SiteGraph, _dir_html

    rows = []
    url = "https://chain.example.com/maven2/"
    for d in range(depth):
        child = f"d{d}/"
        leaf = f"art{d}-1.0.jar"
        html = _dir_html([child] if d < depth - 1 else [], [leaf], url)
        rows.append({
            "url": url, "warc_ts": dt.datetime(2025, 1, 1),
            "html": html.encode(), "text": extract_text_py(html), "lang": "en",
        })
        leaf_html = f"<html><body><p>doc {d}</p></body></html>"
        rows.append({
            "url": url + leaf, "warc_ts": dt.datetime(2025, 1, 1),
            "html": leaf_html.encode(),
            "text": extract_text_py(leaf_html), "lang": "en",
        })
        url = url + child
    pages = pd.DataFrame(rows)
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    return SiteGraph(
        pages=pages,
        seeds=pd.DataFrame([{"seed_rank": 0, "url": "https://chain.example.com/maven2"}]),
        robots=pd.DataFrame(
            [{"host": "chain.example.com", "disallow_prefixes": [],
              "crawl_delay_tokens": 100}]
        ),
    )


def test_adaptive_batching_deep_chain(spark, tmp_path):
    """Depth-40 chain: batching must commit ≪ 40 round dirs while producing
    the identical seen set / results (incl. logical round stamps) / errors /
    lineage as the oracle."""
    from graven_spark.oracle import crawl_oracle

    from .conftest import pages_dict

    depth = 40
    graph = _chain_graph(depth)
    pages_path = _write_pages(graph, tmp_path)
    seeds = spark.createDataFrame(graph.seeds)
    cfg = _cfg(batch_threshold=64, max_batch_rounds=16, compact_every=8)
    out = crawl(spark, pages_path, seeds, None, str(tmp_path / "state"), cfg)
    ora = crawl_oracle(pages_dict(graph.pages), [graph.seeds.url[0]])

    store = out.store
    committed = store.committed_rounds()
    assert out.final_round == depth  # logical rounds preserved
    assert len(committed) <= depth // cfg.max_batch_rounds + 2  # dirs ≪ depth
    # strided commits keep one cadence for both LSMs: a full shard set after
    # round 0 comes with its seen base, and no delta chain reaches the interval
    full_shards = [k for k in committed if store.newest("shards", k) == k]
    assert all(store.newest("seen_full", k) == k for k in full_shards if k > 0)
    assert all(k - store.newest("shards", k) < cfg.compact_every for k in committed)

    assert {r.url for r in out.seen(spark).collect()} == ora.seen
    got_res = sorted(
        (r.url, r.text, r.depth, r.round) for r in out.results(spark).collect()
    )
    want_res = sorted(
        (r["url"], r["text"], r["depth"], r["round"]) for r in ora.results
    )
    assert got_res == want_res
    lin = {
        r["round"]: (r["urls_in"], r["urls_out"], r["bytes_fetched"])
        for r in ora.lineage
    }
    got_lin = {
        r.round: (r.n_in, r.n_out, r.n_bytes)
        for r in out.lineage(spark).groupBy("round").agg(
            F.sum("urls_in").alias("n_in"),
            F.sum("urls_out").alias("n_out"),
            F.sum("bytes_fetched").alias("n_bytes"),
        ).collect()
    }
    assert got_lin == lin


def test_adaptive_batching_equals_plain_on_mini_graph(spark, tmp_path):
    """Batched and unbatched runs over the same multi-host graph produce
    identical seen/results/errors/domains/lineage (per-logical-round)."""
    from graven_spark.sources import synth

    graph = synth.generate_graph(synth.mini_specs())
    pages_path = _write_pages(graph, tmp_path)
    seeds = spark.createDataFrame(graph.seeds)
    plain = crawl(spark, pages_path, seeds, None, str(tmp_path / "plain"), _cfg())
    batched = crawl(
        spark, pages_path, seeds, None, str(tmp_path / "batched"),
        _cfg(batch_threshold=10_000, max_batch_rounds=8),
    )
    assert len(batched.store.committed_rounds()) < len(plain.store.committed_rounds())
    assert sorted(r.url for r in plain.seen(spark).collect()) == sorted(
        r.url for r in batched.seen(spark).collect()
    )
    for getter in ("results", "errors", "domains"):
        p = sorted(tuple(r) for r in getattr(plain, getter)(spark).collect())
        b = sorted(tuple(r) for r in getattr(batched, getter)(spark).collect())
        assert p == b, getter


def test_batching_resume_mid_batch_crash(spark, tmp_path):
    """A batch killed before its commit leaves an uncommitted dir at a
    strided index; resume must sweep it and reproduce the exact outputs."""
    import shutil

    graph = _chain_graph(24)
    pages_path = _write_pages(graph, tmp_path)
    seeds = spark.createDataFrame(graph.seeds)
    cfg = _cfg(batch_threshold=64, max_batch_rounds=8)

    full = crawl(spark, pages_path, seeds, None, str(tmp_path / "full"), cfg)

    d = str(tmp_path / "crash")
    crawl(spark, pages_path, seeds, None, d, _cfg(
        batch_threshold=64, max_batch_rounds=8, max_rounds=8))
    # simulate a crash mid-batch: a partial uncommitted dir at a strided index
    store = RoundStore(d)
    k = store.latest_round()
    junk = os.path.join(d, f"round_{k + 5:06d}")
    os.makedirs(os.path.join(junk, "results_delta"), exist_ok=True)
    with open(os.path.join(junk, "results_delta", "part-0.parquet"), "wb") as f:
        f.write(b"not parquet")

    resumed = crawl(spark, pages_path, seeds, None, d, cfg)
    assert not os.path.exists(junk) or os.path.exists(os.path.join(junk, "_COMMIT"))
    assert sorted(r.url for r in resumed.seen(spark).collect()) == sorted(
        r.url for r in full.seen(spark).collect()
    )
    assert sorted(tuple(r) for r in resumed.results(spark).collect()) == sorted(
        tuple(r) for r in full.results(spark).collect()
    )
    shutil.rmtree(junk, ignore_errors=True)


# -- the composed `graven run` pipeline ---------------------------------------

def test_run_pipeline_matches_oracle(spark, smoke_graph, tmp_path):
    """Flagship composition: crawl → jar table → scanner fixture →
    flatten_grype → assoc joins → NVD/CWE enrichment, all compared against
    the pure-Python pipeline oracle over the crawl oracle's results."""
    from graven_spark.oracle import crawl_oracle
    from graven_spark.plans.pipeline import pipeline_oracle, run_pipeline

    from .conftest import pages_dict, robots_dict

    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    robots = spark.createDataFrame(
        smoke_graph.robots,
        schema="host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )
    pout = run_pipeline(
        spark, pages_path, seeds, robots, str(tmp_path / "state"), _cfg()
    )
    run = crawl_oracle(
        pages_dict(smoke_graph.pages),
        list(smoke_graph.seeds.sort_values("seed_rank")["url"]),
        robots_dict(smoke_graph.robots),
    )
    ora = pipeline_oracle(
        [(r["url"], r["publish_ts"]) for r in run.results], "run0"
    )
    got_jars = sorted(
        (r.jar_id, r.uri, r.group_id, r.artifact_id, r.version, r.publish_date)
        for r in pout.jars.collect()
    )
    want_jars = sorted(
        (j["jar_id"], j["uri"], j["group_id"], j["artifact_id"], j["version"],
         j["publish_date"])
        for j in ora["jars"]
    )
    assert got_jars == want_jars
    assert sorted((r.jar_id, r.cve_id) for r in pout.jar_cve.collect()) == ora["jar_cve"]
    got_cve = sorted(
        (r.cve_id, r.description_en, r.base_score,
         tuple(r.cwes) if r.cwes else None, r.found)
        for r in pout.cve.collect()
    )
    want_cve = sorted(
        (c["cve_id"], c["description_en"], c["base_score"],
         tuple(c["cwes"]) if c["cwes"] else None, c["found"])
        for c in ora["cve"]
    )
    assert got_cve == want_cve
    assert sorted((r.cve_id, r.cwe_id) for r in pout.cve_cwe.collect()) == ora["cve_cwe"]
    got_cwe = sorted(
        (r.cwe_id, r.cwe_name, r.cwe_description, r.link)
        for r in pout.cwe.collect()
    )
    want_cwe = sorted(
        (c["cwe_id"], c["cwe_name"], c["cwe_description"], c["link"])
        for c in ora["cwe"]
    )
    assert got_cwe == want_cwe
    # per-stage lineage counts agree with the oracle tables
    stages = {r.stage: r.rows_out for r in pout.stage_lineage.collect()}
    assert stages["crawler"] == len(run.results)
    assert stages["downloader"] == stages["scanner"] == len(ora["jars"])
    assert stages["analyzer"] == len(ora["jar_cve"])
    assert stages["vuln_fetcher"] == len(ora["cve"])
    assert stages["cwe_fetcher"] == len(ora["cwe"])


def test_cli_run_writes_enrichment_tables(spark, smoke_graph, tmp_path):
    from graven_spark.__main__ import main

    pages = _write_pages(smoke_graph, tmp_path)
    seeds_csv = tmp_path / "seeds.csv"
    seeds_csv.write_text(
        "\n".join(smoke_graph.seeds.sort_values("seed_rank")["url"]) + "\n"
    )
    out_dir = str(tmp_path / "enrich")
    rc = main([
        "run", "--pages", pages, "--seeds", str(seeds_csv),
        "--state", str(tmp_path / "state"), "--out", out_dir,
        "--bloom-buckets", "4", "--bloom-bits", str(1 << 16),
    ])
    assert rc == 0
    for name in ("jars", "jar_cve", "cve", "cve_cwe", "cwe", "stage_lineage"):
        assert os.path.exists(os.path.join(out_dir, name)), name
    jars = spark.read.parquet(os.path.join(out_dir, "jars"))
    assoc = spark.read.parquet(os.path.join(out_dir, "jar_cve"))
    assert jars.count() > 0 and assoc.count() > 0
    # assoc FK side: every assoc jar_id exists in the jar table
    assert assoc.join(jars, "jar_id", "left_anti").count() == 0

    # `process` re-runs the enrichment stages over the EXISTING crawl state
    # (reference `graven process`, SURVEY.md §3.3) — same tables out
    out2 = str(tmp_path / "enrich2")
    rc = main(["process", "--state", str(tmp_path / "state"), "--out", out2])
    assert rc == 0
    assoc2 = spark.read.parquet(os.path.join(out2, "jar_cve"))
    assert sorted((r.jar_id, r.cve_id) for r in assoc2.collect()) == sorted(
        (r.jar_id, r.cve_id) for r in assoc.collect()
    )


def test_update_vuln_resolves_missing(spark, tmp_path):
    """`update-vuln` re-queries ONLY found=false rows: idempotent against
    the same (fixture) source; an injected reference containing one of the
    missing ids flips exactly that row to found and regenerates its
    cve↔cwe association."""
    from graven_spark.plans.enrich import nvd_batch_lookup, parse_nvd
    from graven_spark.plans.pipeline import (
        fixture_nvd,
        nvd_miss,
        nvd_miss_py,
        update_vuln,
    )

    # the prior cve table is the enrichment lookup over a request set chosen
    # so BOTH fixture branches (hit + miss) are guaranteed present
    ids = [f"CVE-2024-{i:04d}" for i in range(60)]
    misses = [i for i in ids if nvd_miss_py(i)]
    assert misses and len(misses) < len(ids)
    req = spark.createDataFrame([(i,) for i in ids], "cve_id string")
    parsed = parse_nvd(
        req.filter(~nvd_miss(F.col("cve_id"))).select(
            fixture_nvd(F.col("cve_id")).alias("nvd_json")
        )
    )
    prior = (
        nvd_batch_lookup(req, parsed).withColumn("run_id", F.lit("run0")).persist()
    )
    missing = sorted(r.cve_id for r in prior.filter(~prior.found).collect())
    assert missing == sorted(misses)

    # same source ⇒ idempotent (misses stay misses, hits untouched)
    t1 = update_vuln(spark, prior, "run1")
    assert sorted(
        (r.cve_id, r.found, r.description_en) for r in t1["cve"].collect()
    ) == sorted((r.cve_id, r.found, r.description_en) for r in prior.collect())

    # a fresher reference that now knows one missing id resolves it
    target = missing[0]
    ref = spark.createDataFrame(
        [(target, "late-desc", 9.9, ["CWE-9999"])],
        "cve_id string, description_en string, base_score double, cwes array<string>",
    )
    t2 = update_vuln(spark, prior, "run2", cve_ref=ref)
    rows = {r.cve_id: r for r in t2["cve"].collect()}
    assert rows[target].found and rows[target].description_en == "late-desc"
    assert rows[target].run_id == "run2"
    still_missing = {c for c, r in rows.items() if not r.found}
    assert still_missing == set(missing) - {target}
    assert (target, "CWE-9999") in {
        (r.cve_id, r.cwe_id) for r in t2["cve_cwe"].collect()
    }
    prior.unpersist()
