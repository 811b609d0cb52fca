"""The reference's flagship ``graven run`` as ONE composed Spark pipeline
(reference: /root/reference/graven/__main__.py:20-88 wires crawler →
downloader → syft generator → grype scanner → analyzer → vuln-fetcher via
thread pools and queues, /root/reference/graven/worker/pipeline_builder.py:124-224).

Here the whole run is a declarative dataflow over the crawl outputs:

    crawl (plans/driver.py) → results
      → jar table        (strip repo prefix + GAV parse,
                          graven_database.py:286-305)
      → scanner reports  (grype report shape, worker/scanner.py — the
                          external syft/grype binaries are STUBBED by a
                          deterministic fixture payload; the Spark dataflow
                          around them is real and tested)
      → flatten_grype → jar↔cve assoc        (worker/analyzer.py:69-95,
                                              graven_database.py:342-351)
      → NVD batch lookup (fixture REST source) → parse_nvd → cve table
                                              (worker/vuln_fetcher.py:111-146)
      → cve↔cwe assoc → CWE page parse (fixture pages) → cwe table
                                              (worker/vuln_fetcher.py:256-289)
      → per-stage lineage rows (one row per worker stage, the analog of the
        reference's per-worker statistics, pipeline_builder.py:322-330)

Scale notes: every stage after the crawl is keyed on jar_id / cve_id /
cwe_id — high-cardinality, uniformly-hashed keys, so the assoc joins and
dedups shuffle evenly; the cve/cwe sides are distinct-id tables (orders of
magnitude smaller than the jar table) and broadcast under AQE. Nothing in
the composition collects to the driver.

The deterministic fixtures (``fixture_report`` / ``fixture_nvd`` /
``fixture_cwe_html``) are md5-derived from the row's own id and exist in
byte-identical Catalyst and pure-Python forms — the Python twins power the
:func:`pipeline_oracle` the CORRECTNESS harness compares against.
"""

from __future__ import annotations

import hashlib
import json
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.checkpoint import ERRORS_SCHEMA
from .driver import CrawlOutputs, crawl
from .enrich import (
    cve_cwe_assoc,
    flatten_grype,
    jar_cve_assoc,
    nvd_batch_lookup,
    parse_cwe_page,
    parse_nvd,
)
from .frontier import CrawlConfig

# Strip any repo root of the reference's MAVEN_CENTRAL_ROOT shape
# (graven_database.py:297: url.replace(MAVEN_CENTRAL_ROOT, '')) — the
# synthetic graph hosts many roots, so the constant generalizes to a
# pattern over scheme + host + the /maven2/ mount.
REPO_PREFIX_RE = "^https?://[^/]+/maven2/"

SEVERITIES = ["Low", "Medium", "High", "Critical"]
SCAN_TS = "2024-03-01T00:00:00Z"


# -- deterministic fixtures (Catalyst + pure-Python twins) --------------------
#
# h16(s) = first 4 hex digits of md5(s) as an int (0..65535): cheap,
# engine-portable (md5 over UTF-8 bytes on both sides), and stateless.

def _h16(col: Column, salt: str) -> Column:
    return F.conv(
        F.substring(F.md5(F.concat(col, F.lit(salt))), 1, 4), 16, 10
    ).cast("long")


def _h16_py(s: str, salt: str) -> int:
    return int(hashlib.md5((s + salt).encode("utf-8")).hexdigest()[:4], 16)


def _cve_num(jar_id: Column | str, i: int):
    if isinstance(jar_id, Column):
        return _h16(jar_id, f"#cve{i}") % 10000
    return _h16_py(jar_id, f"#cve{i}") % 10000


def fixture_report(jar_id: Column) -> Column:
    """grype-report JSON for a jar: h%3 CVE matches (ids + severities
    md5-derived), plus a GHSA match every 5th jar that the analyzer's
    CVE-prefix gate (enrich.flatten_grype) must filter out."""
    h = _h16(jar_id, "#rep")
    matches = []
    for i in range(2):
        num = _cve_num(jar_id, i)
        sev_idx = (num % 4).cast("int")
        matches.append(
            F.concat(
                F.lit('{"vulnerability":{"id":"CVE-2024-'),
                F.lpad(num.cast("string"), 4, "0"),
                F.lit('","severity":"'),
                F.element_at(F.array(*[F.lit(s) for s in SEVERITIES]), sev_idx + 1),
                F.lit('"}}'),
            )
        )
    arr = F.slice(F.array(*matches), 1, (h % 3).cast("int"))
    ghsa = F.lit('{"vulnerability":{"id":"GHSA-0000-0000-0000","severity":"Low"}}')
    arr = F.when(h % 5 == 0, F.concat(arr, F.array(ghsa))).otherwise(arr)
    return F.concat(
        F.lit('{"matches":['),
        F.array_join(arr, ","),
        F.lit('],"descriptor":{"timestamp":"' + SCAN_TS + '"}}'),
    )


def fixture_report_py(jar_id: str) -> str:
    h = _h16_py(jar_id, "#rep")
    matches = []
    for i in range(h % 3):
        num = _cve_num(jar_id, i)
        matches.append(
            '{"vulnerability":{"id":"CVE-2024-%04d","severity":"%s"}}'
            % (num, SEVERITIES[num % 4])
        )
    if h % 5 == 0:
        matches.append(
            '{"vulnerability":{"id":"GHSA-0000-0000-0000","severity":"Low"}}'
        )
    return (
        '{"matches":[' + ",".join(matches)
        + '],"descriptor":{"timestamp":"' + SCAN_TS + '"}}'
    )


def nvd_miss(cve_id: Column) -> Column:
    """Every 7th id is missing from the fixture NVD source — the 404/no-data
    path (vuln_fetcher.py:120) that nvd_batch_lookup records as found=false."""
    return _h16(cve_id, "#nvd") % 7 == 0


def nvd_miss_py(cve_id: str) -> bool:
    return _h16_py(cve_id, "#nvd") % 7 == 0


def fixture_nvd(cve_id: Column) -> Column:
    """NVD REST payload for a hit id: french + english descriptions (the
    parser must pick en), a v3.1 base score, one CWE weakness and a
    NVD-CWE-noinfo entry (filtered by the CWE prefix gate)."""
    hh = _h16(cve_id, "#nvd")
    score = hh % 90 + 10  # tenths: 1.0 .. 9.9, built with pure int math
    score_str = F.concat(
        (score / F.lit(10)).cast("int").cast("string"),
        F.lit("."),
        (score % 10).cast("string"),
    )
    noinfo = F.when(
        hh % 3 == 0, F.lit(',{"value":"NVD-CWE-noinfo"}')
    ).otherwise(F.lit(""))
    return F.concat(
        F.lit('{"vulnerabilities":[{"cve":{"id":"'), cve_id,
        F.lit('","descriptions":[{"lang":"fr","value":"desc-fr"},'
              '{"lang":"en","value":"desc-'), cve_id,
        F.lit('"}],"metrics":{"cvssMetricV31":[{"cvssData":{"baseScore":'),
        score_str,
        F.lit('}}]},"weaknesses":[{"description":[{"value":"CWE-'),
        (hh % 700 + 1).cast("string"),
        F.lit('"}'), noinfo,
        F.lit("]}]}}]}"),
    )


def fixture_nvd_py(cve_id: str) -> str:
    hh = _h16_py(cve_id, "#nvd")
    score = hh % 90 + 10
    noinfo = ',{"value":"NVD-CWE-noinfo"}' if hh % 3 == 0 else ""
    return (
        '{"vulnerabilities":[{"cve":{"id":"%s","descriptions":'
        '[{"lang":"fr","value":"desc-fr"},{"lang":"en","value":"desc-%s"}],'
        '"metrics":{"cvssMetricV31":[{"cvssData":{"baseScore":%d.%d}}]},'
        '"weaknesses":[{"description":[{"value":"CWE-%d"}%s]}]}}]}'
        % (cve_id, cve_id, score // 10, score % 10, hh % 700 + 1, noinfo)
    )


def fixture_cwe_html(cwe_id: Column) -> Column:
    """MITRE definition-page HTML for a CWE id (worker/vuln_fetcher.py:256-289
    page shape): an ``<h2>CWE-N: name</h2>`` and a Description div."""
    n = F.element_at(F.split(cwe_id, "-"), 2)
    return F.concat(
        F.lit("<html><body><h2>"), F.upper(cwe_id),
        F.lit(": Synth Weakness "), n,
        F.lit('</h2><div id="Description">Synthetic weakness class '), n,
        F.lit(".</div></body></html>"),
    )


def fixture_cwe_html_py(cwe_id: str) -> str:
    n = cwe_id.split("-")[1]
    return (
        "<html><body><h2>%s: Synth Weakness %s</h2>"
        '<div id="Description">Synthetic weakness class %s.</div></body></html>'
        % (cwe_id.upper(), n, n)
    )


# -- jar table (graven_database.py:286-305) -----------------------------------

def jar_table(results: DataFrame, run_id: str) -> DataFrame:
    """results → one row per jar_id (reference: jar_id = path basename,
    uri = url minus repo root, GAV from the path segments,
    graven_database.py:295-304). The reference upserts on jar_id (last
    writer wins under its thread races); we pin the deterministic choice:
    smallest uri wins. GAV fields are NULL for paths too short to carry
    coordinates (the reference would crash on those; Maven paths never are)."""
    s = F.split(F.col("uri"), "/")
    deep = F.size(s) >= 3
    rows = results.select(
        F.regexp_replace(F.col("url"), REPO_PREFIX_RE, "").alias("uri"),
        F.col("publish_ts").alias("publish_date"),
    ).select(
        F.element_at(s, -1).alias("jar_id"),
        "uri",
        F.when(deep, F.array_join(F.slice(s, 1, F.greatest(F.size(s) - 3, F.lit(0))), "."))
        .alias("group_id"),
        F.when(deep, F.element_at(s, -3)).alias("artifact_id"),
        F.when(deep, F.element_at(s, -2)).alias("version"),
        "publish_date",
    )
    others = [c for c in rows.columns if c != "jar_id"]
    # min over the WHOLE struct (lexicographic) — (uri, publish_date, …) is
    # a total order even when two hosts expose the same uri, so the winner
    # is deterministic (min_by on uri alone ties nondeterministically).
    # min(struct) compiles to a SortAggregate (struct min buffers aren't
    # hash-agg capable) — accepted by design: it is still ONE map-side-
    # partial agg + one shuffle on high-cardinality jar_id, and measured at
    # 2M rows / 200k jars on local[32] it costs the same as the
    # nondeterministic min_by variant (0.59 s vs 0.58 s) — the determinism
    # is free. PLANS.md §"jar_table winner pick" pins the shape.
    return (
        rows.groupBy("jar_id")
        .agg(F.min(F.struct(*others)).alias("_r"))
        .select("jar_id", *[f"_r.{c}" for c in others])
        .withColumn("run_id", F.lit(run_id))
    )


def jar_table_py(result_urls: list[tuple[str, object]]) -> list[dict]:
    """Python twin of :func:`jar_table` over (url, publish_ts) pairs."""
    by_id: dict[str, dict] = {}
    for url, publish_ts in result_urls:
        uri = re.sub(REPO_PREFIX_RE, "", url)
        segs = uri.split("/")
        row = {
            "jar_id": segs[-1],
            "uri": uri,
            "group_id": ".".join(segs[:-3]) if len(segs) >= 3 else None,
            "artifact_id": segs[-3] if len(segs) >= 3 else None,
            "version": segs[-2] if len(segs) >= 3 else None,
            "publish_date": publish_ts,
        }
        prev = by_id.get(row["jar_id"])
        if prev is None or _jar_key(row) < _jar_key(prev):
            by_id[row["jar_id"]] = row
    return sorted(by_id.values(), key=lambda r: r["jar_id"])


def _jar_key(r: dict) -> tuple:
    """Mirror Spark's nulls-first struct ordering for the winner pick: a
    null publish_date sorts BEFORE any timestamp (same uri from two hosts,
    one listing carrying no ts, must pick the same winner on both sides —
    a raw tuple compare would TypeError on None < datetime)."""
    import datetime as _dt

    pd = r["publish_date"]
    return (r["uri"], pd is not None, pd or _dt.datetime.min)


def attach_payload(
    jars: DataFrame, results: DataFrame, pages: DataFrame
) -> DataFrame:
    """jars + ``payload binary`` — the fetched artifact bytes for each jar
    row, so a REAL syft/grype binary scans the artifact itself, not its URL
    string (reference flow: downloader.py:85-106 writes the downloaded jar
    to disk, anchore/syft.py:68-92 scans that file).

    The jar table's winner pick is min over (uri, publish_date, …) per
    jar_id (jar_table), so the winning row's source url is recoverable
    set-wise: min(url) over the result rows that share the winner's
    (jar_id, uri) — url = prefix + uri, and min(uri) ⇒ the urls that strip
    to it; min(url) breaks multi-host ties the same lexicographic way.
    Both joins key on high-cardinality jar_id/url (no skew); the pages side
    is filtered to the O(#jars) candidate urls before the html bytes move
    (AQE broadcasts the small url set, so page bytes never shuffle).

    ``with_url`` is read twice below (the pages semi-filter and the final
    join) — any shape that both filters pages by the winner-url set AND
    joins the urls back must reference that set twice, so the small
    O(#jars) frame is localCheckpointed and the results scan + winner
    aggregate execute exactly once instead of once per reference."""
    cand = results.select(
        "url", F.regexp_replace(F.col("url"), REPO_PREFIX_RE, "").alias("uri")
    )
    cand = cand.withColumn("jar_id", F.element_at(F.split("uri", "/"), -1))
    urls = cand.groupBy("jar_id", "uri").agg(F.min("url").alias("url"))
    with_url = jars.join(urls, ["jar_id", "uri"], "left").localCheckpoint(eager=True)
    payloads = pages.join(
        with_url.select("url").distinct(), "url", "left_semi"
    ).select("url", F.col("html").alias("payload"))
    return with_url.join(payloads, "url", "left").drop("url")


# -- the composed run --------------------------------------------------------

@dataclass
class PipelineOutputs:
    crawl: CrawlOutputs
    jars: DataFrame       # jar table (jar_id PK)
    sboms: DataFrame      # sbom blob table (S6; /root/reference/ddl/sbom.sql)
    reports: DataFrame    # scanner stage output (jar_id, report_json)
    scan_errors: DataFrame  # errors-style rows from failed real scans
    jar_cve: DataFrame    # jar__cve assoc
    cve: DataFrame        # cve table (cve_id PK, found flag, enrichment)
    cve_cwe: DataFrame    # cve__cwe assoc
    cwe: DataFrame        # cwe table (cwe_id PK)
    stage_lineage: DataFrame  # run_id, stage, rows_out


def enrich_from_results(
    spark: SparkSession, results: DataFrame, run_id: str,
    scanner=None, generator=None,
    disable_syft: bool = False, disable_update_vuln: bool = False,
    pages: DataFrame | None = None,
    cve_ref: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The process/update-vuln stages as one dataflow over a results table
    (usable standalone — the reference's ``process`` command shape).

    ``scanner``: jars-DataFrame → reports. Defaults to the deterministic
    fixture; a real deployment passes
    ``operators.scanner.subprocess_scanner([...grype argv...])`` — its
    4-column output (exit_code/error) is split into ok reports +
    errors-style ``scan_errors`` rows here.
    ``generator``: jars-DataFrame → (jar_id, sbom_json) — the syft stage
    (reference generator.py); defaults to the deterministic fixture SBOM.
    ``disable_syft``: skip the generator — the sboms table is empty and
    scanning proceeds directly on the jars, exactly the reference's
    ``--disable-syft`` (grype scans the jar when no SBOM exists,
    __main__.py:75-79).
    ``disable_update_vuln``: skip the NVD enrichment source — every
    discovered CVE id lands found=false with null enrichment (the state the
    reference's cve table is in before the vuln worker runs,
    ``--disable-update-vuln``); the cwe stages are then naturally empty.
    The stage boundaries (jars, reports, cve) are eagerly
    localCheckpointed, so each stage executes EXACTLY ONCE no matter how many
    output tables are written afterwards — with a real subprocess scanner
    plugged in, re-executing the scanner once per downstream table write
    would re-shell-out per jar per table. On a cluster deployment swap
    localCheckpoint for write-then-read against the output store (the
    ``process``/``update-vuln`` CLI paths already do exactly that).
    ``pages``: the pages table — when given, the scanner/generator input
    frame carries a ``payload binary`` column with the winner row's fetched
    artifact bytes (:func:`attach_payload`), so a REAL binary scans the
    artifact, not its URL string. Fixture stages never need it.
    ``cve_ref``: a parsed NVD reference table (cve_id, description_en,
    base_score, cwes — the shape ``update-vuln --cve-ref`` takes) to enrich
    from REAL data instead of the deterministic fixture source
    (reference: the vuln worker queries live NVD,
    /root/reference/graven/worker/vuln_fetcher.py:111-146).
    """
    from ..functions.sbom import SBOM_SCHEMA, fixture_sbom_json, sbom_table
    from ..operators.scanner import split_scan_failures

    def _pin(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True)

    jars = _pin(jar_table(results, run_id))
    # payload attach only when a real tool will read the bytes — the pin
    # bounds it to one execution even though generator AND scanner read it
    scan_input = (
        _pin(attach_payload(jars, results, pages))
        if pages is not None and (scanner is not None or generator is not None)
        else jars
    )

    gen_out = None
    if disable_syft:
        sboms = spark.createDataFrame([], SBOM_SCHEMA)
    else:
        if generator is None:
            def generator(j):
                return j.select(
                    "jar_id", fixture_sbom_json(F.col("jar_id")).alias("sbom_json")
                )
        # pin the generator output ONCE: both the blob table and the
        # scanner's scan-target join read through it
        gen_out = _pin(generator(scan_input))
        sboms = _pin(sbom_table(gen_out, run_id))

    if scanner is None:
        def scanner(j):
            return j.select(
                "jar_id", fixture_report(F.col("jar_id")).alias("report_json")
            )
        scan_frame = scan_input  # fixture derives from jar_id; no target join
    elif gen_out is not None:
        # Reference scanner.py:72-78: grype scans the SBOM when the
        # generator produced one, and falls back to the jar itself when it
        # did not (a failed syft run leaves sbom_json NULL) — mirror that
        # per row by making `payload` the effective scan target.
        scan_frame = scan_input.join(
            gen_out.withColumnRenamed("sbom_json", "_sbom_target"),
            "jar_id", "left",
        )
        target = F.col("_sbom_target").cast("binary")
        if "payload" in scan_input.columns:
            target = F.coalesce(target, F.col("payload"))
        scan_frame = scan_frame.withColumn("payload", target).drop("_sbom_target")
    else:
        scan_frame = scan_input  # no SBOMs: grype scans the jar (ref __main__.py:75-79)

    # pin the RAW scanner output before any split: pinning the two split
    # branches separately would execute the scanner once per branch
    scanned = _pin(scanner(scan_frame))
    if "exit_code" in scanned.columns:
        reports, scan_errors = split_scan_failures(scanned, run_id)
    else:
        reports = scanned
        scan_errors = spark.createDataFrame([], ERRORS_SCHEMA)
    matches = flatten_grype(reports)
    jar_cve = jar_cve_assoc(matches, run_id)
    ids = matches.select(F.col("vuln_id").alias("cve_id")).distinct()
    if disable_update_vuln:
        parsed = spark.createDataFrame(
            [], "cve_id string, description_en string, base_score double, "
                "cwes array<string>"
        )
    elif cve_ref is not None:
        # real reference source: ids ⋈ the user's parsed NVD dump — ids
        # absent from the dump land found=false, exactly the fixture path
        parsed = cve_ref.select("cve_id", "description_en", "base_score", "cwes")
    else:
        parsed = _fixture_nvd(ids)
    cve = _pin(nvd_batch_lookup(ids, parsed).withColumn("run_id", F.lit(run_id)))
    cve_cwe, cwe = _cwe_tables(cve, run_id)
    return {
        "jars": jars, "sboms": sboms, "reports": reports,
        "scan_errors": scan_errors, "jar_cve": jar_cve,
        "cve": cve, "cve_cwe": cve_cwe, "cwe": cwe,
    }


def _fixture_nvd(ids: DataFrame) -> DataFrame:
    """The deterministic fixture NVD source, parsed, for the ``cve_id`` rows
    of ``ids`` (ids the fixture treats as NVD misses are left out)."""
    return parse_nvd(ids.filter(~nvd_miss(F.col("cve_id"))).select(
        fixture_nvd(F.col("cve_id")).alias("nvd_json")
    ))


def _cwe_tables(cve: DataFrame, run_id: str) -> tuple[DataFrame, DataFrame]:
    """``(cve_cwe, cwe)`` downstream of the enriched ``cve`` table: the
    cve↔cwe association and the parsed CWE pages, stamped with ``run_id``."""
    cve_cwe = cve_cwe_assoc(cve.select("cve_id", "cwes")).withColumn(
        "run_id", F.lit(run_id)
    )
    cwe_pages = cve_cwe.select("cwe_id").distinct().select(
        "cwe_id", fixture_cwe_html(F.col("cwe_id")).alias("html")
    )
    return cve_cwe, parse_cwe_page(cwe_pages).withColumn("run_id", F.lit(run_id))


def _stage_row(df: DataFrame, run_id: str, stage: str) -> DataFrame:
    return df.groupBy().agg(F.count("*").alias("rows_out")).select(
        F.lit(run_id).alias("run_id"), F.lit(stage).alias("stage"), "rows_out"
    )


def stage_lineage_from(
    results: DataFrame, t: dict[str, DataFrame], run_id: str
) -> DataFrame:
    """Per-stage lineage (reference per-worker statistics,
    pipeline_builder.py:322-330): one row per worker stage with its output
    row count."""
    return (
        _stage_row(results, run_id, "crawler")
        .unionByName(_stage_row(t["jars"], run_id, "downloader"))
        .unionByName(_stage_row(t["sboms"], run_id, "generator"))
        .unionByName(_stage_row(t["reports"], run_id, "scanner"))
        .unionByName(_stage_row(t["jar_cve"], run_id, "analyzer"))
        .unionByName(_stage_row(t["cve"], run_id, "vuln_fetcher"))
        .unionByName(_stage_row(t["cwe"], run_id, "cwe_fetcher"))
    )


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    seeds: DataFrame,
    robots: DataFrame | None,
    state_dir: str,
    cfg: CrawlConfig | None = None,
    scanner=None,
    generator=None,
    disable_syft: bool = False,
    disable_update_vuln: bool = False,
    tool_meta: dict | None = None,
    cve_ref: DataFrame | None = None,
) -> PipelineOutputs:
    """``graven run``: crawl + process + update-vuln, composed. The stage
    toggles mirror the reference CLI (__main__.py:51-88): ``disable_syft``
    skips SBOM generation, ``disable_update_vuln`` skips NVD enrichment.
    ``tool_meta`` (syft_version/grype_version/grype_db_source) lands in the
    run_log row (/root/reference/ddl/0_run_log.sql). With a real scanner or
    generator, the pages table is re-read so the tools receive the fetched
    artifact BYTES (attach_payload); ``cve_ref`` swaps the fixture NVD
    source for a real parsed dump."""
    cfg = cfg or CrawlConfig()
    out = crawl(spark, pages_path, seeds, robots, state_dir, cfg,
                tool_meta=tool_meta)
    results = out.results(spark)
    pages = (
        spark.read.parquet(pages_path)
        if scanner is not None or generator is not None
        else None
    )
    t = enrich_from_results(
        spark, results, cfg.run_id, scanner=scanner, generator=generator,
        disable_syft=disable_syft, disable_update_vuln=disable_update_vuln,
        pages=pages, cve_ref=cve_ref,
    )
    stage_lineage = stage_lineage_from(results, t, cfg.run_id)
    return PipelineOutputs(
        crawl=out, jars=t["jars"], sboms=t["sboms"], reports=t["reports"],
        scan_errors=t["scan_errors"], jar_cve=t["jar_cve"],
        cve=t["cve"], cve_cwe=t["cve_cwe"], cwe=t["cwe"],
        stage_lineage=stage_lineage,
    )


def update_vuln(
    spark: SparkSession,
    cve_prior: DataFrame,
    run_id: str,
    cve_ref: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The reference's ``update-vuln`` command (vuln_fetcher re-query of
    CVEs whose enrichment previously failed, __main__.py:82-85 +
    vuln_fetcher.py:111-146): re-look-up ONLY the found=false rows against
    ``cve_ref`` (a parsed NVD reference table — defaults to the
    deterministic fixture source, making the command idempotent in tests;
    pass a fresh dump re-parsed with parse_nvd in production) and rebuild
    the downstream cve↔cwe / cwe tables from the merged result. Resolved
    rows keep their original run_id; re-queried rows stamp the new one."""
    missing = cve_prior.filter(~F.col("found")).select("cve_id")
    if cve_ref is None:
        cve_ref = _fixture_nvd(missing)
    refreshed = nvd_batch_lookup(missing, cve_ref).withColumn(
        "run_id", F.lit(run_id)
    )
    cve = cve_prior.filter(F.col("found")).unionByName(
        refreshed.select(*cve_prior.columns)
    )
    cve_cwe, cwe = _cwe_tables(cve, run_id)
    return {"cve": cve, "cve_cwe": cve_cwe, "cwe": cwe}


# -- pure-Python pipeline oracle ----------------------------------------------

def pipeline_oracle(result_urls: list[tuple[str, object]], run_id: str) -> dict:
    """Reference-faithful single-threaded enrichment over crawl results
    (the oracle twin of :func:`enrich_from_results`): returns the expected
    jar / sbom / jar_cve / cve / cve_cwe / cwe tables as sorted lists of
    dicts. The sbom entry carries the DECOMPRESSED payload (the roundtrip
    contract — codec bytes are implementation detail, the payload is not)."""
    from ..functions.sbom import fixture_sbom_json_py

    jars = jar_table_py(result_urls)
    sboms = [
        {"jar_id": j["jar_id"], "sbom_json": fixture_sbom_json_py(j["jar_id"])}
        for j in jars
    ]
    jar_cve = set()
    all_cves = set()
    for jar in jars:
        rep = json.loads(fixture_report_py(jar["jar_id"]))
        for m in rep["matches"]:
            vid = m["vulnerability"]["id"]
            if not vid.startswith("CVE"):
                continue
            jar_cve.add((jar["jar_id"], vid))
            all_cves.add(vid)
    cve_rows = []
    cve_cwe = set()
    for cid in sorted(all_cves):
        if nvd_miss_py(cid):
            cve_rows.append({
                "cve_id": cid, "description_en": None, "base_score": None,
                "cwes": None, "found": False,
            })
            continue
        payload = json.loads(fixture_nvd_py(cid))
        c = payload["vulnerabilities"][0]["cve"]
        desc = next(d["value"] for d in c["descriptions"] if d["lang"] == "en")
        score = c["metrics"]["cvssMetricV31"][0]["cvssData"]["baseScore"]
        cwes = [
            d["value"]
            for w in c["weaknesses"] for d in w["description"]
            if d["value"].startswith("CWE")
        ]
        cve_rows.append({
            "cve_id": cid, "description_en": desc, "base_score": float(score),
            "cwes": cwes, "found": True,
        })
        for cw in cwes:
            cve_cwe.add((cid, cw))
    cwe_rows = []
    for cw in sorted({cw for _, cw in cve_cwe}):
        html = fixture_cwe_html_py(cw)
        m_name = re.search("<h2>(.*?)</h2>", html).group(1)
        name = m_name[len(cw) + 2:] if m_name.startswith(cw.upper() + ": ") else m_name
        desc = re.search('<div id="Description">(.*?)</div>', html).group(1)
        n = cw.split("-")[1]
        cwe_rows.append({
            "cwe_id": cw, "cwe_name": name, "cwe_description": desc,
            "link": f"https://cwe.mitre.org/data/definitions/{n}.html",
        })
    return {
        "jars": jars,
        "sboms": sboms,
        "jar_cve": sorted(jar_cve),
        "cve": cve_rows,
        "cve_cwe": sorted(cve_cwe),
        "cwe": cwe_rows,
        "run_id": run_id,
    }
