"""The enrichment pipeline: pure-Python units for the fixtures and helpers
(these pin the formulas both engines share), the composed ``run`` against
its oracle, and ``update-vuln``."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from graven_spark.oracle import details_json
from graven_spark.plans.pipeline import (
    fixture_cwe_html_py,
    fixture_nvd_py,
    fixture_report_py,
    jar_table_py,
    nvd_miss_py,
)
from graven_spark.streaming.pipeline import _window_seconds

from .conftest import _cfg, _write_pages


def test_fixture_report_shapes():
    seen_counts = set()
    for i in range(200):
        rep = json.loads(fixture_report_py(f"art-{i}.0.jar"))
        ids = [m["vulnerability"]["id"] for m in rep["matches"]]
        cves = [v for v in ids if v.startswith("CVE-2024-")]
        seen_counts.add(len(cves))
        assert all(v.startswith(("CVE-", "GHSA-")) for v in ids)
        assert rep["descriptor"]["timestamp"] == "2024-03-01T00:00:00Z"
    assert seen_counts == {0, 1, 2}  # h%3 match counts all occur


def test_fixture_nvd_parses_and_misses():
    hits = misses = 0
    for i in range(100):
        cid = f"CVE-2024-{i:04d}"
        if nvd_miss_py(cid):
            misses += 1
            continue
        hits += 1
        c = json.loads(fixture_nvd_py(cid))["vulnerabilities"][0]["cve"]
        assert c["id"] == cid
        langs = [d["lang"] for d in c["descriptions"]]
        assert langs == ["fr", "en"]  # parser must pick the en one
        score = c["metrics"]["cvssMetricV31"][0]["cvssData"]["baseScore"]
        assert 1.0 <= score <= 9.9
        weak = [d["value"] for w in c["weaknesses"] for d in w["description"]]
        assert any(v.startswith("CWE-") for v in weak)
    assert hits and misses  # both branches occur


def test_fixture_cwe_html_round_trips():
    html = fixture_cwe_html_py("CWE-79")
    assert "<h2>CWE-79: Synth Weakness 79</h2>" in html
    assert '<div id="Description">' in html


def test_jar_table_py_dedup_and_gav():
    import datetime as dt

    t0, t1 = dt.datetime(2025, 1, 1), dt.datetime(2025, 1, 2)
    rows = jar_table_py([
        ("https://a.example.com/maven2/g/sub/art/1.0/art-1.0.jar", t1),
        ("https://b.example.com/maven2/g/sub/art/1.0/art-1.0.jar", t0),  # same uri
        ("https://a.example.com/maven2/short.jar", t0),
    ])
    by_id = {r["jar_id"]: r for r in rows}
    assert by_id["art-1.0.jar"]["group_id"] == "g.sub"
    assert by_id["art-1.0.jar"]["artifact_id"] == "art"
    assert by_id["art-1.0.jar"]["version"] == "1.0"
    assert by_id["art-1.0.jar"]["publish_date"] == t0  # (uri, ts) min wins
    assert by_id["short.jar"]["group_id"] is None  # too short for GAV


def test_details_json_matches_to_json_semantics():
    assert details_json(attempt=1, parent_url=None, depth=0) == '{"attempt":1,"depth":0}'
    assert details_json(parent_url="u", depth=2) == '{"parent_url":"u","depth":2}'


def test_window_seconds():
    assert _window_seconds(90) == 90
    assert _window_seconds("1 hour") == 3600
    assert _window_seconds("15 minutes") == 900
    with pytest.raises(KeyError):
        _window_seconds("3 fortnights")


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
