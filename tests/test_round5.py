"""Round-5 additions: artifact bytes into the real scanner (attach_payload),
robust version probe, --cve-ref on run/process (the sbom codec tests live
in test_sbom.py)."""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import stat
import subprocess

import pytest
from pyspark.sql import functions as F

from graven_spark.plans.pipeline import enrich_from_results


# -- probe_version robustness (ADVICE r4) -------------------------------------

def _bin(tmp_path, name, body):
    p = tmp_path / name
    p.write_text(body)
    p.chmod(p.stat().st_mode | stat.S_IEXEC)
    return str(p)


def test_probe_version_stderr_empty_and_error(tmp_path):
    from graven_spark.operators.scanner import probe_version

    stderr_bin = _bin(tmp_path, "v_stderr", "#!/bin/sh\necho 'tool 2.0.1' >&2\n")
    assert probe_version(stderr_bin) == "2.0.1"
    silent_bin = _bin(tmp_path, "v_silent", "#!/bin/sh\nexit 0\n")
    assert probe_version(silent_bin) == "unknown"
    # an EXISTING binary that errors is NOT "could not find": the failure
    # stays a CalledProcessError with the real exit status
    err_bin = _bin(tmp_path, "v_err", "#!/bin/sh\nexit 7\n")
    with pytest.raises(subprocess.CalledProcessError):
        probe_version(err_bin)
    with pytest.raises(FileNotFoundError):
        probe_version(str(tmp_path / "missing"))


# -- artifact bytes into the real scanner (VERDICT r4 #1) ---------------------

SHA_SCANNER = """#!/usr/bin/env python3
import hashlib, sys
if "--version" in sys.argv:
    print("sha_scanner 1.0.0")
    sys.exit(0)
out = inp = None
for a in sys.argv[1:]:
    if a.startswith("json="):
        out = a[5:]
    elif a not in ("-o", "--by-cve"):
        inp = a
sha = hashlib.sha256(open(inp, "rb").read()).hexdigest()
open(out, "w").write(
    '{"matches":[],"descriptor":{"timestamp":"2024-03-01T00:00:00Z"},'
    '"input_sha":"%s"}' % sha
)
"""


@pytest.fixture()
def sha_scanner_bin(tmp_path):
    return _bin(tmp_path, "sha_scanner", SHA_SCANNER)


def _graph_results(spark, graph, n=8):
    """Crawl-results-shaped rows for n leaf (.jar) urls of the graph."""
    leaves = sorted(u for u in graph.pages["url"] if u.endswith(".jar"))[:n]
    assert len(leaves) == n
    rows = [(u, dt.datetime(2024, 1, 1)) for u in leaves]
    return spark.createDataFrame(rows, "url string, publish_ts timestamp"), leaves


def test_scanner_receives_artifact_bytes(spark, smoke_graph, sha_scanner_bin):
    """With pages attached and no SBOM stage, the subprocess receives the
    page's EXACT bytes (sha-compared inside the fake binary) — the
    reference scans the downloaded artifact file when no SBOM exists
    (downloader.py:85-106 → scanner.py:72-78 jar branch)."""
    from graven_spark.operators.scanner import subprocess_scanner

    results, leaves = _graph_results(spark, smoke_graph)
    pages = spark.createDataFrame(smoke_graph.pages)
    scan = subprocess_scanner(
        [sha_scanner_bin, "-o", "json={out}", "{in}"], timeout=10.0
    )  # input_col defaults to payload
    t = enrich_from_results(
        spark, results, "run0", scanner=scan, pages=pages, disable_syft=True
    )
    html_by_url = {
        r.url: bytes(r.html) for r in pages.filter(F.col("url").isin(leaves)).collect()
    }
    want = {
        u.rsplit("/", 1)[-1]: hashlib.sha256(html_by_url[u]).hexdigest()
        for u in leaves
    }
    got = {
        r.jar_id: json.loads(r.report_json)["input_sha"]
        for r in t["reports"].collect()
    }
    assert got == want
    assert t["scan_errors"].count() == 0


def test_scanner_prefers_sbom_falls_back_to_jar(spark, smoke_graph, sha_scanner_bin):
    """Reference scanner.py:72-78: grype scans the SBOM when the generator
    produced one, the jar bytes when it did not (failed syft run). The real
    syft stage itself always receives the jar bytes."""
    from graven_spark.operators.scanner import subprocess_scanner

    results, leaves = _graph_results(spark, smoke_graph)
    pages = spark.createDataFrame(smoke_graph.pages)
    scan = subprocess_scanner(
        [sha_scanner_bin, "-o", "json={out}", "{in}"], timeout=10.0
    )
    null_jar = sorted(u.rsplit("/", 1)[-1] for u in leaves)[0]

    def gen(jars):  # a syft stage whose run failed for ONE jar
        from graven_spark.functions.sbom import fixture_sbom_json

        return jars.select(
            "jar_id",
            F.when(F.col("jar_id") == null_jar, F.lit(None).cast("string"))
            .otherwise(fixture_sbom_json(F.col("jar_id"))).alias("sbom_json"),
        )

    t = enrich_from_results(
        spark, results, "run0", scanner=scan, generator=gen, pages=pages
    )
    from graven_spark.functions.sbom import fixture_sbom_json_py

    html_by_url = {
        r.url: bytes(r.html) for r in pages.filter(F.col("url").isin(leaves)).collect()
    }
    want = {}
    for u in leaves:
        jar = u.rsplit("/", 1)[-1]
        target = (
            html_by_url[u] if jar == null_jar  # fallback: jar bytes
            else fixture_sbom_json_py(jar).encode("utf-8")  # sbom bytes
        )
        want[jar] = hashlib.sha256(target).hexdigest()
    got = {
        r.jar_id: json.loads(r.report_json)["input_sha"]
        for r in t["reports"].collect()
    }
    assert got == want
    # the failed generator run is still visible in the blob table
    sbom_rows = {r.jar_id: r for r in t["sboms"].collect()}
    assert sbom_rows[null_jar].sbom is None and sbom_rows[null_jar].codec is None


def test_scanner_without_payload_fails_fast(spark):
    from graven_spark.operators.scanner import subprocess_scanner

    jars = spark.createDataFrame([("a.jar", "u")], "jar_id string, uri string")
    scan = subprocess_scanner(["true", "{in}", "{out}"])
    with pytest.raises(ValueError, match="payload"):
        scan(jars)


def test_cli_process_real_scanner_requires_pages(spark, tmp_path, sha_scanner_bin):
    from graven_spark.__main__ import main
    from graven_spark.sources.synth import generate_graph, mini_specs

    g = generate_graph(mini_specs())
    pages = str(tmp_path / "pages.parquet")
    g.pages.to_parquet(pages, index=False)
    seeds_csv = tmp_path / "seeds.csv"
    seeds_csv.write_text("\n".join(g.seeds.sort_values("seed_rank")["url"]) + "\n")
    state = str(tmp_path / "state")
    assert main(["crawl", "--pages", pages, "--seeds", str(seeds_csv),
                 "--state", state, "--bloom-buckets", "4",
                 "--bloom-bits", str(1 << 16)]) == 0

    # a jar-scanning combination without --pages: fail fast, never scan
    # URL strings (grype scans the jar directly when syft is disabled)
    assert main(["process", "--state", state, "--out", str(tmp_path / "o1"),
                 "--disable-syft", "--grype-path", sha_scanner_bin]) == 1
    assert main(["process", "--state", state, "--out", str(tmp_path / "o1b"),
                 "--syft-path", sha_scanner_bin]) == 1

    out = str(tmp_path / "o2")
    assert main(["process", "--state", state, "--out", out, "--disable-syft",
                 "--pages", pages, "--grype-path", sha_scanner_bin]) == 0
    reports_sha = {
        r.jar_id: json.loads(r.report_json)["input_sha"]
        for r in spark.read.parquet(os.path.join(out, "reports")).collect()
    }
    assert len(reports_sha) > 0
    assert spark.read.parquet(os.path.join(out, "scan_errors")).count() == 0
    # each sha matches SOME page's bytes (the winner url's payload)
    page_shas = {
        hashlib.sha256(h).hexdigest() for h in g.pages["html"]
    }
    assert set(reports_sha.values()) <= page_shas

    # grype real + fixture syft ENABLED: grype scans the SBOMs — no --pages
    # needed (reference scanner.py:72-78 sbom branch)
    from graven_spark.functions.sbom import fixture_sbom_json_py

    out3 = str(tmp_path / "o3")
    assert main(["process", "--state", state, "--out", out3,
                 "--grype-path", sha_scanner_bin]) == 0
    got3 = {
        r.jar_id: json.loads(r.report_json)["input_sha"]
        for r in spark.read.parquet(os.path.join(out3, "reports")).collect()
    }
    assert got3 == {
        j: hashlib.sha256(fixture_sbom_json_py(j).encode("utf-8")).hexdigest()
        for j in got3
    }


# -- de-drivered -u host set (VERDICT r4 #3) ----------------------------------

def test_update_all_sentinel_equals_explicit_host_list(spark, tmp_path):
    """update_domains="*" (the -u path) joins the recorded domains table
    instead of collecting hosts to the driver — and produces exactly the
    state an explicit all-hosts list produces."""
    from graven_spark.operators.bloom import BloomSpec
    from graven_spark.plans.driver import crawl
    from graven_spark.plans.frontier import CrawlConfig
    from graven_spark.sources.synth import generate_graph, mini_specs

    g = generate_graph(mini_specs())
    pages = str(tmp_path / "pages.parquet")
    g.pages.to_parquet(pages, index=False)
    seeds = spark.createDataFrame(g.seeds)

    def cfg(**kw):
        return CrawlConfig(
            use_bloom=True, bloom=BloomSpec(n_buckets=4, bits_per_shard=1 << 16),
            **kw,
        )

    outs = {}
    for name in ("star", "explicit"):
        state = str(tmp_path / name)
        first = crawl(spark, pages, seeds, None, state, cfg())
        all_hosts = sorted(
            r.host for r in first.domains(spark).select("host").collect()
        )
        update = "*" if name == "star" else all_hosts
        outs[name] = crawl(
            spark, pages, seeds, None, state, cfg(update_domains=update,
                                                  update_url_prefix="")
        )
    for getter in ("seen", "results", "domains"):
        a = sorted(tuple(r) for r in getattr(outs["star"], getter)(spark).collect())
        b = sorted(tuple(r) for r in getattr(outs["explicit"], getter)(spark).collect())
        assert a == b, getter


# -- --cve-ref on run/process (VERDICT r4 #2) ---------------------------------

def _cve_ref_rows(ids):
    return [
        (cid, f"real desc {cid}", 7.5, ["CWE-79"]) for cid in ids
    ]


def test_enrich_with_cve_ref(spark):
    rows = [
        (f"https://h/maven2/g/a{i}/1.{i}/a{i}-1.{i}.jar", dt.datetime(2024, 1, 1))
        for i in range(8)
    ]
    results = spark.createDataFrame(rows, "url string, publish_ts timestamp")
    discovered = sorted(
        r.cve_id
        for r in enrich_from_results(
            spark, results, "run0", disable_update_vuln=True
        )["cve"].collect()
    )
    assert len(discovered) >= 2
    known = discovered[: len(discovered) // 2]
    ref = spark.createDataFrame(
        _cve_ref_rows(known),
        "cve_id string, description_en string, base_score double, cwes array<string>",
    )
    t = enrich_from_results(spark, results, "run0", cve_ref=ref)
    got = {r.cve_id: r for r in t["cve"].collect()}
    assert sorted(got) == discovered
    for cid in discovered:
        if cid in known:
            assert got[cid].found and got[cid].description_en == f"real desc {cid}"
            assert got[cid].base_score == 7.5
        else:
            assert not got[cid].found and got[cid].description_en is None
    # downstream cwe tables built from the REF's cwes
    assert {r.cwe_id for r in t["cve_cwe"].collect()} == {"CWE-79"}


def test_cli_run_with_cve_ref(spark, tmp_path):
    from graven_spark.__main__ import main
    from graven_spark.sources.synth import generate_graph, mini_specs

    g = generate_graph(mini_specs())
    pages = str(tmp_path / "pages.parquet")
    g.pages.to_parquet(pages, index=False)
    seeds_csv = tmp_path / "seeds.csv"
    seeds_csv.write_text("\n".join(g.seeds.sort_values("seed_rank")["url"]) + "\n")

    # discover the ids first (fixture run with vuln disabled)
    out0 = str(tmp_path / "out0")
    assert main(["run", "--pages", pages, "--seeds", str(seeds_csv),
                 "--state", str(tmp_path / "s0"), "--out", out0,
                 "--disable-update-vuln", "--bloom-buckets", "4",
                 "--bloom-bits", str(1 << 16)]) == 0
    ids = sorted(
        r.cve_id for r in spark.read.parquet(os.path.join(out0, "cve")).collect()
    )
    known = ids[:2]
    ref_path = str(tmp_path / "cve_ref.parquet")
    spark.createDataFrame(
        _cve_ref_rows(known),
        "cve_id string, description_en string, base_score double, cwes array<string>",
    ).write.parquet(ref_path)

    out1 = str(tmp_path / "out1")
    assert main(["run", "--pages", pages, "--seeds", str(seeds_csv),
                 "--state", str(tmp_path / "s1"), "--out", out1,
                 "--cve-ref", ref_path, "--bloom-buckets", "4",
                 "--bloom-bits", str(1 << 16)]) == 0
    cve = {r.cve_id: r for r in spark.read.parquet(os.path.join(out1, "cve")).collect()}
    assert sorted(cve) == ids
    for cid in ids:
        assert cve[cid].found == (cid in known)
        if cid in known:
            assert cve[cid].description_en == f"real desc {cid}"


# -- round-5 self-review fixes ------------------------------------------------

def test_null_payload_becomes_error_row_not_scanned(spark, tmp_path):
    """A NULL scan target (attach_payload found no page, or a failed-syft
    row with no jar fallback) must become a failure row WITHOUT invoking
    the binary — never an exit-0 scan of the literal string 'None'."""
    from graven_spark.operators.scanner import split_scan_failures, subprocess_scanner

    touched = tmp_path / "touched"
    marker_bin = _bin(
        tmp_path, "marking_scanner",
        "#!/usr/bin/env python3\n"
        "import sys\n"
        f"open({str(touched)!r}, 'a').write(open(sys.argv[1], 'rb').read().hex() + chr(10))\n"
        "open(sys.argv[2], 'w').write('{}')\n",
    )
    jars = spark.createDataFrame(
        [("good.jar", bytearray(b"BYTES")), ("orphan.jar", None)],
        "jar_id string, payload binary",
    )
    scanned = subprocess_scanner([marker_bin, "{in}", "{out}"])(jars)
    ok, failures = split_scan_failures(scanned, "r5")
    assert [r.jar_id for r in ok.collect()] == ["good.jar"]
    fail = failures.collect()
    assert [r.url for r in fail] == ["orphan.jar"]
    assert "no input bytes" in fail[0].details
    # the binary only ever saw the real bytes (one line per action on the
    # unpinned test plan — the composed run pins `scanned` to one action);
    # the NULL row never reached a subprocess
    assert set(touched.read_text().splitlines()) == {b"BYTES".hex()}


def test_update_domains_bare_string_rejected(spark, tmp_path):
    from graven_spark.plans.driver import crawl
    from graven_spark.plans.frontier import CrawlConfig

    seeds = spark.createDataFrame(
        [("http://repo.example.com/a/", 0)], "url string, seed_rank int"
    )
    with pytest.raises(ValueError, match="list of hosts"):
        crawl(
            spark, str(tmp_path / "pages"), seeds, None,
            str(tmp_path / "state"),
            CrawlConfig(update_domains="repo.example.com"),
        )
