"""Round-4 additions: real subprocess scanner wrapper, single-execution
pipeline stages, run_log metadata columns, --jar-limit, stage toggles,
combined --update (the SBOM table tests live in test_sbom.py)."""

from __future__ import annotations

import json
import os
import stat
import zipfile

import pytest
from pyspark.sql import functions as F

from graven_spark.plans.pipeline import (
    enrich_from_results,
    fixture_report_py,
    pipeline_oracle,
)

from .conftest import _results_df


def test_pipeline_oracle_carries_sboms(spark):
    t = enrich_from_results(spark, _results_df(spark), "run0")
    ora = pipeline_oracle(
        [(r.url, r.publish_ts) for r in _results_df(spark).collect()], "run0"
    )
    from graven_spark.functions.sbom import decompress_bytes

    got = {
        r.jar_id: decompress_bytes(bytes(r.sbom)).decode("utf-8")
        for r in t["sboms"].collect()
    }
    assert got == {s["jar_id"]: s["sbom_json"] for s in ora["sboms"]}


# -- subprocess scanner wrapper (syft.py:68-92 / grype.py:206-226) ------------

FAKE_SCANNER = """#!/usr/bin/env python3
import sys, time
out = inp = None
for a in sys.argv[1:]:
    if a.startswith("json="):
        out = a[5:]
    elif a not in ("-o", "--by-cve"):
        inp = a
data = open(inp).read()
if "FAIL" in data:
    sys.stderr.write("fake scanner exploded")
    sys.exit(3)
if "SLEEP" in data:
    time.sleep(30)
if "NOREPORT" in data:
    sys.exit(0)
open(out, "w").write(
    '{"matches":[],"descriptor":{"timestamp":"2024-03-01T00:00:00Z"}}'
)
"""


@pytest.fixture()
def fake_scanner_bin(tmp_path):
    p = tmp_path / "fake_scanner"
    p.write_text(FAKE_SCANNER)
    p.chmod(p.stat().st_mode | stat.S_IEXEC)
    return str(p)


def test_subprocess_scanner_success_failure_timeout(spark, fake_scanner_bin):
    from graven_spark.operators.scanner import TIMEOUT_EXIT_CODE, subprocess_scanner

    jars = spark.createDataFrame(
        [("ok.jar", "fine"), ("bad.jar", "FAIL"), ("slow.jar", "SLEEP"),
         ("empty.jar", "NOREPORT")],
        "jar_id string, uri string",
    )
    scan = subprocess_scanner(
        [fake_scanner_bin, "--by-cve", "-o", "json={out}", "{in}"], timeout=5.0,
        input_col="uri",  # the test frame's scan target IS the string value
    )
    rows = {r.jar_id: r for r in scan(jars).collect()}
    ok = rows["ok.jar"]
    assert ok.exit_code == 0 and ok.error is None
    assert json.loads(ok.report_json)["matches"] == []
    bad = rows["bad.jar"]
    assert bad.exit_code == 3 and "exploded" in bad.error
    assert bad.report_json is None
    slow = rows["slow.jar"]
    assert slow.exit_code == TIMEOUT_EXIT_CODE and "timeout" in slow.error
    empty = rows["empty.jar"]
    assert empty.report_json is None and empty.error == "no report produced"


def test_scanner_version_probe(fake_scanner_bin, tmp_path):
    from graven_spark.operators.scanner import probe_version

    p = tmp_path / "versioned"
    p.write_text("#!/bin/sh\necho 'fake 9.9.9'\n")
    p.chmod(0o755)
    assert probe_version(str(p)) == "9.9.9"
    with pytest.raises(FileNotFoundError):
        probe_version(str(tmp_path / "does_not_exist"))


def test_scan_failures_become_error_rows(spark, fake_scanner_bin):
    """A real-scanner run: failures surface as errors-style rows with the
    exit-code context (reference worker catch → error_log,
    generator.py:71-76 / scanner.py:80-85); ok rows flow to the analyzer."""
    from graven_spark.operators.scanner import subprocess_scanner

    results = _results_df(spark, 4)
    scan = subprocess_scanner(
        [fake_scanner_bin, "-o", "json={out}", "{in}"], timeout=5.0,
        input_col="uri",
    )

    def flaky(jars):  # make one jar's input trip the FAIL branch
        return scan(jars.withColumn(
            "uri", F.when(F.col("jar_id").contains("art0"), "FAIL").otherwise("ok")
        ))

    t = enrich_from_results(spark, results, "run0", scanner=flaky)
    errs = t["scan_errors"].collect()
    assert len(errs) == 1
    e = errs[0]
    assert e.stage == "scanner" and e.reason == "scan_failed"
    d = json.loads(e.details)
    assert d["exit_code"] == 3 and "exploded" in d["error"] and d["run_id"] == "run0"
    # ok reports continue downstream (fixture report has no matches → no cves)
    assert t["reports"].count() == 3
    assert t["cve"].count() == 0


def test_pipeline_stages_execute_exactly_once(spark, tmp_path):
    """The composed run writes every output table from ONE execution of each
    stage (round-3 verdict defect): a counting scanner sees each jar exactly
    once even though six downstream tables + the lineage rollup all read
    through it."""
    import pandas as pd

    from graven_spark.plans.pipeline import stage_lineage_from

    acc = spark.sparkContext.accumulator(0)

    def counting_scanner(jars):
        def gen(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pd.DataFrame({
                    "jar_id": pdf["jar_id"],
                    "report_json": [fixture_report_py(j) for j in pdf["jar_id"]],
                })
        return jars.select("jar_id").mapInPandas(
            gen, "jar_id string, report_json string"
        )

    results = _results_df(spark)
    t = enrich_from_results(spark, results, "run0", scanner=counting_scanner)
    for name, df in t.items():
        df.write.mode("overwrite").parquet(str(tmp_path / name))
    stage_lineage_from(results, t, "run0").collect()
    n_jars = t["jars"].count()
    assert n_jars == 6
    assert acc.value == n_jars  # not 6× or 12× — each stage ran once

    # the 4-column (real subprocess scanner) path must also run once: the
    # ok/failure SPLIT happens after the pin, not before
    acc2 = spark.sparkContext.accumulator(0)

    def counting_scanner4(jars):
        def gen(batches):
            for pdf in batches:
                acc2.add(len(pdf))
                yield pd.DataFrame({
                    "jar_id": pdf["jar_id"],
                    "report_json": [fixture_report_py(j) for j in pdf["jar_id"]],
                    "exit_code": [0] * len(pdf),
                    "error": [None] * len(pdf),
                })
        return jars.select("jar_id").mapInPandas(
            gen, "jar_id string, report_json string, exit_code int, error string"
        )

    t2 = enrich_from_results(spark, results, "run0", scanner=counting_scanner4)
    for name, df in t2.items():
        df.write.mode("overwrite").parquet(str(tmp_path / ("b_" + name)))
    stage_lineage_from(results, t2, "run0").collect()
    assert acc2.value == n_jars


# -- stage toggles (reference __main__.py:51-88) ------------------------------

def test_disable_syft_skips_generator_only(spark):
    t = enrich_from_results(spark, _results_df(spark), "run0", disable_syft=True)
    assert t["sboms"].count() == 0
    assert t["reports"].count() == 6  # scanning proceeds directly on jars
    assert t["jar_cve"].count() > 0


def test_disable_update_vuln_leaves_cves_unresolved(spark):
    t = enrich_from_results(
        spark, _results_df(spark), "run0", disable_update_vuln=True
    )
    cve = t["cve"].collect()
    assert len(cve) > 0
    assert all(not r.found and r.description_en is None for r in cve)
    assert t["cwe"].count() == 0 and t["cve_cwe"].count() == 0
    # with the fixture source enabled, some of the same ids resolve
    t2 = enrich_from_results(spark, _results_df(spark), "run0")
    assert any(r.found for r in t2["cve"].collect())


# -- run_log metadata columns (/root/reference/ddl/0_run_log.sql) -------------

def test_run_log_metadata_and_exit_codes(spark, tmp_path):
    from graven_spark.sources.checkpoint import KILLED_EXIT_CODE, RoundStore

    store = RoundStore(str(tmp_path / "state"))
    seq = store.log_run_start(
        "run0", 0,
        tool_meta={"syft_version": "1.2.3", "grype_version": "0.74.0",
                   "grype_db_source": "https://example.com/db"},
    )
    store.log_run_end(seq, 3)
    store.log_run_start("run1", 3)  # dangling → next start closes it KILLED
    store.log_run_start("run2", 3)
    rows = {r.seq: r for r in store.read_run_log(spark).collect()}
    assert rows[0].exit_status == "OK" and rows[0].exit_code == 0
    assert rows[0].syft_version == "1.2.3"
    assert rows[0].grype_version == "0.74.0"
    assert rows[0].grype_db_source == "https://example.com/db"
    assert rows[1].exit_status == "KILLED"
    assert rows[1].exit_code == KILLED_EXIT_CODE
    assert rows[2].exit_status == "RUNNING" and rows[2].exit_code is None
    assert rows[2].syft_version is None  # fixture meta not forced on


# -- CLI: sbom tables + export + toggles + --update ---------------------------

def _mini_inputs(tmp_path):
    from graven_spark.sources.synth import generate_graph, mini_specs

    g = generate_graph(mini_specs())
    pages = str(tmp_path / "pages.parquet")
    g.pages.to_parquet(pages, index=False)
    seeds_csv = tmp_path / "seeds.csv"
    seeds_csv.write_text(
        "\n".join(g.seeds.sort_values("seed_rank")["url"]) + "\n"
    )
    return pages, str(seeds_csv)


def test_cli_run_sboms_and_export_roundtrip(spark, tmp_path):
    from graven_spark.__main__ import main
    from graven_spark.functions.sbom import fixture_sbom_json_py

    pages, seeds_csv = _mini_inputs(tmp_path)
    out_dir = str(tmp_path / "enrich")
    rc = main([
        "run", "--pages", pages, "--seeds", seeds_csv,
        "--state", str(tmp_path / "state"), "--out", out_dir,
        "--bloom-buckets", "4", "--bloom-bits", str(1 << 16),
    ])
    assert rc == 0
    sboms = spark.read.parquet(os.path.join(out_dir, "sboms"))
    jars = spark.read.parquet(os.path.join(out_dir, "jars"))
    assert sboms.count() == jars.count() > 0
    assert os.path.exists(os.path.join(out_dir, "scan_errors"))
    stages = {
        r.stage: r.rows_out
        for r in spark.read.parquet(os.path.join(out_dir, "stage_lineage")).collect()
    }
    assert stages["generator"] == jars.count()

    # export --what sboms: archive members roundtrip to the fixture payloads
    exp = str(tmp_path / "exp")
    rc = main(["export", "--what", "sboms", "--enrich", out_dir,
               "--out", exp, "--format", "zip"])
    assert rc == 0
    with zipfile.ZipFile(os.path.join(exp, "graven_sbom_dump.zip")) as z:
        got = {n[:-5]: json.loads(z.read(n)) for n in z.namelist()}
    want = {
        r.jar_id: json.loads(fixture_sbom_json_py(r.jar_id))
        for r in jars.collect()
    }
    assert got == want

    # run_log carries the fixture tool metadata
    from graven_spark.sources.checkpoint import RoundStore

    log = RoundStore(str(tmp_path / "state")).read_run_log(spark).collect()
    assert log[-1].syft_version == "fixture" and log[-1].exit_code == 0


def test_cli_toggles(spark, tmp_path):
    from graven_spark.__main__ import main

    pages, seeds_csv = _mini_inputs(tmp_path)
    out_dir = str(tmp_path / "enrich")
    rc = main([
        "run", "--pages", pages, "--seeds", seeds_csv,
        "--state", str(tmp_path / "state"), "--out", out_dir,
        "--disable-syft", "--disable-update-vuln",
        "--bloom-buckets", "4", "--bloom-bits", str(1 << 16),
    ])
    assert rc == 0
    assert spark.read.parquet(os.path.join(out_dir, "sboms")).count() == 0
    cve = spark.read.parquet(os.path.join(out_dir, "cve"))
    assert cve.count() > 0 and cve.filter(F.col("found")).count() == 0
    assert spark.read.parquet(os.path.join(out_dir, "cwe")).count() == 0
    stages = {
        r.stage: r.rows_out
        for r in spark.read.parquet(os.path.join(out_dir, "stage_lineage")).collect()
    }
    assert stages["generator"] == 0 and stages["cwe_fetcher"] == 0

    # process default = vuln disabled; --enable-update-vuln turns it on
    out2 = str(tmp_path / "p2")
    assert main(["process", "--state", str(tmp_path / "state"),
                 "--out", out2]) == 0
    cve2 = spark.read.parquet(os.path.join(out2, "cve"))
    assert cve2.filter(F.col("found")).count() == 0
    out3 = str(tmp_path / "p3")
    assert main(["process", "--state", str(tmp_path / "state"),
                 "--out", out3, "--enable-update-vuln"]) == 0
    cve3 = spark.read.parquet(os.path.join(out3, "cve"))
    assert cve3.filter(F.col("found")).count() > 0


def test_cli_update_flag_recrawls_everything(spark, tmp_path):
    """-u/--update supersedes --update-*: every recorded domain re-opens and
    every recorded jar re-processes; with unchanged pages the results are
    identical (idempotent refresh)."""
    from graven_spark.__main__ import main
    from graven_spark.sources.checkpoint import RoundStore

    pages, seeds_csv = _mini_inputs(tmp_path)
    state = str(tmp_path / "state")
    base = ["--pages", pages, "--seeds", seeds_csv, "--state", state,
            "--bloom-buckets", "4", "--bloom-bits", str(1 << 16)]
    assert main(["crawl"] + base) == 0
    store = RoundStore(state)
    k1 = store.latest_round()
    res1 = {
        (r.url, r.text)
        for r in store.read_results(spark, k1).select("url", "text").collect()
    }
    assert main(["crawl", "--update"] + base) == 0
    k2 = store.latest_round()
    assert k2 > k1  # update transition + re-crawl rounds actually committed
    res2 = {
        (r.url, r.text)
        for r in store.read_results(spark, k2).select("url", "text").collect()
    }
    assert res2 == res1


def test_jar_limit_batched_equals_plain(spark, tmp_path):
    """--jar-limit composes with adaptive round batching: the cap applies
    per LOGICAL depth inside a batch, so batched and unbatched runs with the
    same cap yield identical seen/results/errors/domains."""
    from graven_spark.plans.driver import crawl
    from graven_spark.plans.frontier import CrawlConfig
    from graven_spark.operators.bloom import BloomSpec
    from graven_spark.sources.synth import generate_graph, mini_specs

    g = generate_graph(mini_specs())
    pages = str(tmp_path / "pages.parquet")
    g.pages.to_parquet(pages, index=False)
    seeds = spark.createDataFrame(g.seeds)

    def cfg(**kw):
        return CrawlConfig(
            use_bloom=True, bloom=BloomSpec(n_buckets=4, bits_per_shard=1 << 16),
            jar_limit=5, **kw,
        )

    plain = crawl(spark, pages, seeds, None, str(tmp_path / "plain"), cfg())
    batched = crawl(spark, pages, seeds, None, str(tmp_path / "batched"),
                    cfg(batch_threshold=10_000))
    assert len(batched.store.committed_rounds()) < len(plain.store.committed_rounds())
    assert sorted(r.url for r in plain.seen(spark).collect()) == sorted(
        r.url for r in batched.seen(spark).collect()
    )
    for getter in ("results", "errors", "domains"):
        p = sorted(tuple(r) for r in getattr(plain, getter)(spark).collect())
        b = sorted(tuple(r) for r in getattr(batched, getter)(spark).collect())
        assert p == b, getter
    # the cap really bit at every depth
    lin = plain.lineage(spark).groupBy("round").sum("urls_in").collect()
    assert all(r["sum(urls_in)"] <= 5 for r in lin)


def test_jar_limit_zero_rejected(spark, tmp_path):
    """A cap of 0 can never make progress — fail fast in engine and oracle
    rather than spinning no-op rounds to max_rounds."""
    from graven_spark.oracle import crawl_oracle
    from graven_spark.plans.driver import crawl
    from graven_spark.plans.frontier import CrawlConfig
    from graven_spark.sources.synth import generate_graph, smoke_specs

    g = generate_graph(smoke_specs())
    pages = str(tmp_path / "pages.parquet")
    g.pages.to_parquet(pages, index=False)
    seeds = spark.createDataFrame(g.seeds)
    state = tmp_path / "state"
    with pytest.raises(ValueError, match="jar_limit"):
        crawl(spark, pages, seeds, None, str(state),
              CrawlConfig(use_bloom=False, jar_limit=0))
    # rejected before init_run: nothing was committed
    assert not list(state.glob("round_*/_COMMIT"))
    with pytest.raises(ValueError, match="jar_limit"):
        crawl_oracle({}, ["https://h/maven2/"], jar_limit=0)
