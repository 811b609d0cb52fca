"""CLI entry point — the ``graven run/crawl/export`` analog
(/root/reference/graven/__main__.py) for spark-submit:

    spark-submit --py-files graven_spark.zip -m graven_spark crawl \
        --pages PATH --seeds CSV --state DIR [--robots PATH] [--budget N] \
        [--max-retries N] [--update-domain HOST ...] [--update-jar PREFIX]

or locally: ``python -m graven_spark crawl ...``. See scripts/submit.sh for
the packaged form.

Export formats: json/parquet directories (distributed write), or zip/tar.gz
archives (the reference's SBOM archive export,
/root/reference/graven/db/graven_database.py:407-448): results are written
as JSON parts by the executors, then the driver packages the parts — the
archive container itself is inherently a single-writer artifact, exactly as
in the reference.
"""

from __future__ import annotations

import argparse
import os
import tarfile
import tempfile
import zipfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .operators.bloom import BloomSpec
from .plans.driver import crawl
from .plans.frontier import CrawlConfig
from .session import build_session


def read_seeds(spark: SparkSession, path: str):
    """Seed CSV, column 0 = url, file order = priority
    (reference: cli_parser.py:246-259)."""
    if path.endswith(".parquet"):
        return spark.read.parquet(path).select("seed_rank", "url")
    raw = spark.read.csv(path).select(F.col("_c0").alias("url"))
    from pyspark.sql.window import Window

    # Single-partition window: seed files are tiny by construction (they are
    # the hand-written crawl roots) — never the data path.
    return raw.withColumn(
        "seed_rank",
        F.row_number().over(Window.orderBy(F.monotonically_increasing_id())) - 1,
    )


def _append_seeds(seeds, extra):
    """Seeds ``(seed_rank, url)`` followed by ``extra`` ``(_r, url)``, whose
    1-based ``_r`` orders the appended urls; a url already in ``seeds`` keeps
    its first occurrence. Appended ranks start at ``max(seed_rank) + 1``, so
    every seed rank stays unique even when an earlier append's anti-join left
    gaps. The result is pinned: every round reads it."""
    if seeds is None:
        out = extra.select((F.col("_r") - 1).alias("seed_rank"), "url")
    else:
        # one action on the seed relation, tiny by construction
        top = seeds.agg(F.max("seed_rank")).first()[0]
        base = -1 if top is None else top
        out = seeds.unionByName(
            extra.join(seeds.select("url"), "url", "anti")
            .select((F.col("_r") + base).alias("seed_rank"), "url")
        )
    return out.localCheckpoint()


def export_archive(results, out: str, kind: str) -> tuple[int, int]:
    """Write results as JSON parts (distributed), then package the parts
    into one archive on the driver (deterministic member order). Returns
    (n_members, n_rows) — counted from the parts, so the results plan runs
    exactly once. The staging dir is removed afterwards."""
    import shutil

    tmp = tempfile.mkdtemp(prefix="graven_export_")
    try:
        results.write.mode("overwrite").json(tmp)
        parts = sorted(
            f for f in os.listdir(tmp) if f.startswith("part-") and f.endswith(".json")
        )
        # row count from a distributed scan of the staged parts (one line per
        # row), not a driver-side re-read of every byte; the results plan
        # still runs exactly once (the write above)
        n_rows = results.sparkSession.read.text(tmp).count()
        if kind == "zip":
            with zipfile.ZipFile(out, "w", compression=zipfile.ZIP_DEFLATED) as z:
                for i, f in enumerate(parts):
                    z.write(os.path.join(tmp, f), arcname=f"results-{i:05d}.json")
        else:
            with tarfile.open(out, "w:gz") as t:
                for i, f in enumerate(parts):
                    t.add(os.path.join(tmp, f), arcname=f"results-{i:05d}.json")
        return len(parts), n_rows
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _build_scanners(args):
    """(scanner, generator, tool_meta) from the --syft-path/--grype-path
    flags: real subprocess wrappers with the reference argv shapes
    (anchore/syft.py:80, grype.py:217) when a binary is given, else the
    deterministic fixtures (None → pipeline default). Versions are probed
    exactly like the reference's validate() (syft.py:94-105) and land in
    the run_log metadata columns."""
    from pyspark.sql import functions as F

    from .operators.scanner import probe_version, subprocess_scanner

    scanner = generator = None
    meta = {
        "syft_version": None if args.disable_syft else "fixture",
        "grype_version": "fixture",
        "grype_db_source": args.grype_db_source,
    }
    if args.grype_path:
        scanner = subprocess_scanner(
            [args.grype_path, "--by-cve", "-o", "json={out}", "{in}"],
            timeout=args.scan_timeout,
        )
        meta["grype_version"] = probe_version(args.grype_path)
    if args.syft_path and not args.disable_syft:
        syft_scan = subprocess_scanner(
            [args.syft_path, "-o", "json={out}", "--from", "local-file", "{in}"],
            timeout=args.scan_timeout,
        )
        meta["syft_version"] = probe_version(args.syft_path)

        def generator(jars):
            # generator contract is (jar_id, sbom_json); a failed syft run
            # yields a NULL sbom_json blob row (visible, never silently ok)
            return syft_scan(jars).select(
                "jar_id", F.col("report_json").alias("sbom_json")
            )

    return scanner, generator, meta


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="graven_spark")
    # reference top-level logging options (cli_parser.py: --silent overrides
    # --log-level), mapped onto the Spark log level
    p.add_argument("--log-level", default=None,
                   choices=["ALL", "DEBUG", "INFO", "WARN", "ERROR", "OFF"],
                   help="spark log level")
    p.add_argument("--silent", action="store_true",
                   help="suppress engine logging (overrides --log-level)")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add_crawl_args(c):
        c.add_argument("--pages", required=True, help="pages table path (parquet)")
        c.add_argument("--seeds", default=None,
                       help="seed CSV (col 0 = url) or parquet; optional "
                            "when --sitemap-seeds supplies the roots")
        c.add_argument("--sitemap-seeds", action="store_true",
                       help="append seeds discovered via robots-advertised "
                            "sitemaps (urlset + one sitemapindex nesting "
                            "level, document order) after any --seeds rows; "
                            "requires --robots-rfc (the rules table carries "
                            "the Sitemap: advertisements)")
        c.add_argument("--cdx-seeds", default=None, metavar="PATH",
                       help="append seeds derived from a Common-Crawl CDX(J) "
                            "index (html-2xx captures, first capture per "
                            "url, earliest-capture-first order) after any "
                            "--seeds rows")
        c.add_argument("--cdx-seed-limit", type=int, default=10000,
                       help="cap on CDX-derived seeds (top-k by first-"
                            "capture time; bounds the seed-ranking step)")
        c.add_argument("--state", required=True, help="checkpoint/state directory")
        c.add_argument("--robots", default=None, help="robots rules parquet")
        c.add_argument("--robots-rfc", action="store_true",
                       help="derive RFC 9309 robots rules from the "
                            "/robots.txt pages inside --pages (wildcards + "
                            "longest-match precedence) instead of a "
                            "pre-parsed --robots table")
        c.add_argument("--robots-agent", default="graven",
                       help="user-agent product token for --robots-rfc "
                            "group selection (default: graven)")
        c.add_argument("--delay-window", type=float, default=None,
                       metavar="SECONDS",
                       help="with --robots-rfc: one crawl round models this "
                            "many seconds, so a host's Crawl-delay d yields "
                            "a per-round budget max(1, floor(SECONDS/d)); "
                            "hosts without Crawl-delay keep --budget")
        c.add_argument("--normalize-urls", action="store_true",
                       help="apply RFC 3986 syntactic normalization "
                            "(lowercase scheme/host, default-port strip, "
                            "fragment strip, dot-segment resolution) to "
                            "seeds and discovered URLs before the seen "
                            "probe; off by default for reference replay "
                            "parity")
        c.add_argument("--budget", type=int, default=None,
                       help="default per-host per-round budget; 0 selects nothing "
                            "for a host, so a crawl whose every pending host has "
                            "budget 0 fails fast (no progress is possible)")
        c.add_argument("--max-rounds", type=int, default=1000)
        c.add_argument("--max-retries", type=int, default=0,
                       help="requeue failed dir fetches up to N times (U4)")
        c.add_argument("--jar-limit", type=int, default=None,
                       help="global per-round fetch cap (T3, reference "
                            "downloader.py jar_limit semaphore): the first N "
                            "URLs in global priority order fetch, the rest "
                            "defer to the next round")
        c.add_argument("--no-bloom", action="store_true")
        c.add_argument("--bloom-buckets", type=int, default=32)
        c.add_argument("--bloom-bits", type=int, default=1 << 21,
                       help="bits per Bloom shard: a power of two >= 64")
        c.add_argument("--seen-buckets", type=int, default=32,
                       help="bucket count for the compacted seen base table")
        c.add_argument("--update-domain", action="append", default=[],
                       help="re-open a COMPLETED host on resume: purge its seen "
                            "URLs and re-seed its root (repeatable)")
        c.add_argument("--update-jar", default=None, metavar="PREFIX",
                       help="re-fetch + re-extract recorded results under PREFIX")
        c.add_argument("-u", "--update", action="store_true",
                       help="re-open ALL recorded domains AND re-process ALL "
                            "recorded jars (reference cli_parser.py:66-71; "
                            "supersedes --update-domain/--update-jar)")
        c.add_argument("--batch-threshold", type=int, default=0,
                       help="adaptive round batching: when the frontier has "
                            "fewer rows than this, process multiple depths "
                            "per commit (0 = one commit per depth)")

    add_crawl_args(sub.add_parser("crawl", help="run/resume a crawl"))

    def add_scanner_args(c):
        c.add_argument("--syft-path", default=None,
                       help="real syft binary: the generator stage shells out "
                            "per jar (reference anchore/syft.py:68-92); "
                            "default = deterministic fixture SBOMs")
        c.add_argument("--grype-path", default=None,
                       help="real grype binary: the scanner stage shells out "
                            "per jar (reference anchore/grype.py:206-226); "
                            "default = deterministic fixture reports")
        c.add_argument("--grype-db-source", default=None,
                       help="recorded in the run_log row (0_run_log.sql)")
        c.add_argument("--scan-timeout", type=float, default=60.0,
                       help="per-scan subprocess timeout seconds")
        c.add_argument("--disable-syft", action="store_true",
                       help="skip SBOM generation; scanning proceeds directly "
                            "on the jars (reference __main__.py:75-79)")
        c.add_argument("--cve-ref", default=None,
                       help="parsed NVD reference parquet "
                            "(cve_id, description_en, base_score, cwes) to "
                            "enrich from real data instead of the fixture "
                            "source (reference: live NVD queries, "
                            "vuln_fetcher.py:111-146)")

    r = sub.add_parser(
        "run",
        help="flagship end-to-end pipeline: crawl + process + vuln enrich "
             "(reference `graven run`, pipeline_builder.py:124-224)",
    )
    add_crawl_args(r)
    add_scanner_args(r)
    r.add_argument("--out", required=True,
                   help="output directory for the enrichment tables "
                        "(jar/sbom/jar_cve/cve/cve_cwe/cwe/stage_lineage parquet)")
    r.add_argument("--disable-update-vuln", action="store_true",
                   help="skip NVD enrichment: discovered CVE ids land "
                        "found=false with null detail columns "
                        "(reference __main__.py:83-86)")

    pr = sub.add_parser(
        "process",
        help="enrichment stages over an EXISTING crawl state (reference "
             "`graven process` — DB-as-queue consumption, SURVEY.md §3.3)",
    )
    pr.add_argument("--state", required=True, help="crawl state directory")
    pr.add_argument("--out", required=True,
                    help="output directory for the enrichment tables")
    pr.add_argument("--run-id", default="run0")
    pr.add_argument("--pages", default=None,
                    help="pages table path — REQUIRED with --syft-path/"
                         "--grype-path so the binaries scan the fetched "
                         "artifact bytes, not the URL string")
    add_scanner_args(pr)
    pr.add_argument("--enable-update-vuln", action="store_true",
                    help="also run NVD enrichment (reference: the process "
                         "command runs the vuln worker only with this flag, "
                         "cli_parser.py:168 + __main__.py:83-86)")

    uv = sub.add_parser(
        "update-vuln",
        help="re-query unresolved CVEs against a (new) reference source "
             "(reference `graven update-vuln`)",
    )
    uv.add_argument("--enrich", required=True,
                    help="prior enrichment directory (holds cve/ parquet)")
    uv.add_argument("--out", required=True)
    uv.add_argument("--cve-ref", default=None,
                    help="parsed NVD reference parquet "
                         "(cve_id, description_en, base_score, cwes); "
                         "defaults to the deterministic fixture source")
    uv.add_argument("--run-id", default="run1")

    st = sub.add_parser(
        "stream",
        help="continuous extraction over an arriving pages directory into an "
             "exactly-once batch-committed sink (Structured Streaming, "
             "availableNow drain; re-run to pick up new files)",
    )
    st.add_argument("--pages", required=True, help="pages parquet directory")
    st.add_argument("--sink", required=True, help="sink directory (batch_N dirs)")
    st.add_argument("--checkpoint", required=True, help="streaming checkpoint dir")
    st.add_argument("--max-files-per-trigger", type=int, default=4)
    st.add_argument("--budget", type=int, default=None,
                    help="per-host politeness cap for the stream (stateful, "
                         "persists across micro-batches and restarts of the "
                         "same checkpoint; reference request cap crawler.py:27)")
    st.add_argument("--budget-window", default=None, metavar='"1 hour"',
                    help="refresh the per-host allowance every event-time "
                         "tumbling window (default: lifetime budget)")

    ing = sub.add_parser(
        "ingest",
        help="WARC segments -> pages parquet (Common-Crawl-style bootstrap; "
             "not in the reference - its input is a live scrape loop, "
             "crawler.py:62-96)",
    )
    ing.add_argument("--warc", required=True,
                     help="segment path glob (.warc or .warc.gz; per-record "
                          "gzip members as Common Crawl publishes them)")
    ing.add_argument("--out", required=True, help="pages parquet output dir")
    ing.add_argument("--status-min", type=int, default=200)
    ing.add_argument("--status-max", type=int, default=299)

    e = sub.add_parser(
        "export",
        help="export crawl results, or the sbom blob table as a "
             "graven_sbom_dump archive (reference export_sboms, "
             "graven_database.py:407-448)",
    )
    e.add_argument("--state", default=None, help="crawl state dir (results)")
    e.add_argument("--enrich", default=None,
                   help="enrichment output dir holding sboms/ (sbom export)")
    e.add_argument("--what", choices=["results", "sboms"], default="results")
    e.add_argument("--out", required=True)
    e.add_argument("--format", choices=["json", "parquet", "zip", "tar.gz"],
                   default="json")

    args = p.parse_args(argv)
    if args.cmd in ("crawl", "run"):
        # usage errors exit before the session starts
        if not args.seeds and not args.sitemap_seeds and not args.cdx_seeds:
            p.error("one of --seeds / --sitemap-seeds / --cdx-seeds is required")
        if args.sitemap_seeds and not args.robots_rfc:
            p.error("--sitemap-seeds requires --robots-rfc (sitemaps come "
                    "from the parsed robots.txt advertisements)")
        if args.robots and args.robots_rfc:
            p.error("--robots and --robots-rfc are mutually exclusive")
        update_domains = args.update_domain
        update_prefix = args.update_jar
        if args.update:
            # -u/--update: ALL recorded domains + ALL recorded jars
            # (reference cli_parser.py:66-71 "Supersedes --update-* flags").
            # "*" makes _reopen_domains JOIN the recorded domains table —
            # no host list ever reaches the driver or the plan.
            from .sources.checkpoint import RoundStore

            if RoundStore(args.state).latest_round() is not None:
                update_domains = "*"
                update_prefix = ""  # every recorded url matches
        try:
            cfg = CrawlConfig(
                use_bloom=not args.no_bloom,
                bloom=BloomSpec(n_buckets=args.bloom_buckets, bits_per_shard=args.bloom_bits),
                max_rounds=args.max_rounds,
                max_retries=args.max_retries,
                jar_limit=args.jar_limit,
                delay_window_s=args.delay_window,
                normalize_urls=args.normalize_urls,
                seen_buckets=args.seen_buckets,
                update_domains=update_domains,
                update_url_prefix=update_prefix,
                batch_threshold=args.batch_threshold,
                **({"default_budget": args.budget} if args.budget is not None else {}),
            )
        except ValueError as e:
            p.error(str(e))
    if args.cmd == "stream" and args.budget_window is not None:
        from .streaming.pipeline import _window_seconds

        if args.budget is None:
            p.error("--budget-window requires --budget")
        try:
            _window_seconds(args.budget_window)
        except (ValueError, KeyError) as e:
            p.error(f"--budget-window: {e.args[0]}")
    spark = build_session(app_name=f"graven_spark_{args.cmd}")
    if args.silent:
        spark.sparkContext.setLogLevel("OFF")
    elif args.log_level:
        spark.sparkContext.setLogLevel(args.log_level)
    import time

    from .functions.duration import format_hms_py

    t0 = time.time()

    if args.cmd == "update-vuln":
        from .plans.pipeline import update_vuln

        prior = spark.read.parquet(os.path.join(args.enrich, "cve"))
        ref = spark.read.parquet(args.cve_ref) if args.cve_ref else None
        t = update_vuln(spark, prior, args.run_id, cve_ref=ref)
        counts = {}
        for name, df in t.items():
            df.write.mode("overwrite").parquet(os.path.join(args.out, name))
            counts[name] = spark.read.parquet(os.path.join(args.out, name)).count()
        n_found = (
            spark.read.parquet(os.path.join(args.out, "cve"))
            .filter(F.col("found")).count()
        )
        print(f"updated {counts} found={n_found} "
              f"elapsed={format_hms_py(time.time() - t0)}")
        return 0

    if args.cmd == "ingest":
        from .sources.warc import pages_from_warc

        pages = pages_from_warc(
            spark, args.warc,
            min_status=args.status_min, max_status=args.status_max,
        )
        pages.write.mode("overwrite").parquet(args.out)
        n = spark.read.parquet(args.out).count()
        print(f"ingested {n} pages elapsed={format_hms_py(time.time() - t0)}")
        return 0

    if args.cmd == "stream":
        from .streaming.pipeline import read_stream_sink, stream_extract_to_sink

        os.makedirs(args.sink, exist_ok=True)
        q = stream_extract_to_sink(
            spark, args.pages, args.sink, args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            budget=args.budget, budget_window=args.budget_window,
        )
        q.awaitTermination()
        n = read_stream_sink(spark, args.sink).count()
        print(f"sink holds {n} rows elapsed={format_hms_py(time.time() - t0)}")
        return 0

    if args.cmd == "process":
        from .plans.pipeline import enrich_from_results
        from .sources.checkpoint import RoundStore

        store = RoundStore(args.state)
        k = store.latest_round()
        if k is None:
            print("no committed rounds in state dir")
            return 1
        # a real syft scans the jar bytes; a real grype scans the jar bytes
        # only when no SBOM stage runs (reference scanner.py:72-78 scans the
        # SBOM when one exists) — either way the jar-scanning tool needs the
        # pages table to supply the payload
        needs_pages = (args.syft_path and not args.disable_syft) or (
            args.grype_path and args.disable_syft
        )
        if needs_pages and not args.pages:
            print("this scanner combination scans the fetched artifact bytes "
                  "— pass --pages so the pipeline can attach them")
            return 1
        scanner, generator, _meta = _build_scanners(args)
        t = enrich_from_results(
            spark, store.read_results(spark, k), args.run_id,
            scanner=scanner, generator=generator,
            disable_syft=args.disable_syft,
            # reference parity: process runs the vuln worker only with
            # --enable-update-vuln (cli_parser.py:168)
            disable_update_vuln=not args.enable_update_vuln,
            pages=spark.read.parquet(args.pages) if args.pages else None,
            cve_ref=spark.read.parquet(args.cve_ref) if args.cve_ref else None,
        )
        counts = {}
        for name, df in t.items():
            df.write.mode("overwrite").parquet(os.path.join(args.out, name))
            counts[name] = spark.read.parquet(os.path.join(args.out, name)).count()
        print(f"processed {counts} elapsed={format_hms_py(time.time() - t0)}")
        return 0

    if args.cmd in ("crawl", "run"):
        seeds = read_seeds(spark, args.seeds) if args.seeds else None
        if args.robots_rfc:
            from .functions.robots import rules_from_robots_pages

            # pin the tiny O(#hosts) rules table once: every round's gate
            # reads it, and re-deriving would re-scan the pages table for
            # robots.txt rows each round
            robots = rules_from_robots_pages(
                spark.read.parquet(args.pages), args.robots_agent
            ).localCheckpoint()
        else:
            robots = spark.read.parquet(args.robots) if args.robots else None
        if args.sitemap_seeds:
            from .functions.sitemap import seeds_from_sitemaps

            sm = seeds_from_sitemaps(spark.read.parquet(args.pages), robots)
            seeds = _append_seeds(seeds, sm.withColumnRenamed("seed_rank", "_r"))
        if args.cdx_seeds:
            from pyspark.sql import Window

            from .sources.cdx import read_cdx, seeds_from_cdx

            cx = seeds_from_cdx(
                read_cdx(spark, args.cdx_seeds), limit=args.cdx_seed_limit
            )
            # top-k already bounded cx to O(limit) rows, so the single-
            # partition ranking window is bounded too (same contract as a
            # seed file, which is read whole on the driver)
            cx = cx.select(
                F.row_number().over(Window.orderBy("priority", "url"))
                .alias("_r"), "url",
            )
            seeds = _append_seeds(seeds, cx)
        if args.cmd == "run":
            from .plans.pipeline import run_pipeline

            scanner, generator, tool_meta = _build_scanners(args)
            pout = run_pipeline(
                spark, args.pages, seeds, robots, args.state, cfg,
                scanner=scanner, generator=generator,
                disable_syft=args.disable_syft,
                disable_update_vuln=args.disable_update_vuln,
                tool_meta=tool_meta,
                cve_ref=(spark.read.parquet(args.cve_ref)
                         if args.cve_ref else None),
            )
            for name in ("jars", "sboms", "scan_errors", "jar_cve", "cve",
                         "cve_cwe", "cwe", "stage_lineage"):
                getattr(pout, name).write.mode("overwrite").parquet(
                    os.path.join(args.out, name)
                )
            stats = {
                r.stage: r.rows_out
                for r in spark.read.parquet(
                    os.path.join(args.out, "stage_lineage")
                ).collect()
            }
            print(f"stages={stats} rounds={pout.crawl.final_round} "
                  f"elapsed={format_hms_py(time.time() - t0)}")
            return 0
        out = crawl(spark, args.pages, seeds, robots, args.state, cfg)
        lineage = out.lineage(spark).groupBy("round").agg(
            F.sum("urls_in").alias("urls_in"),
            F.sum("urls_out").alias("urls_out"),
            F.sum("bytes_fetched").alias("bytes"),
        ).orderBy("round")
        lineage.show(1000, truncate=False)
        out.domains(spark).orderBy("host").show(100, truncate=False)
        print(f"rounds={out.final_round} seen={out.seen(spark).count()} "
              f"results={out.results(spark).count()} "
              f"elapsed={format_hms_py(time.time() - t0)}")
    elif args.what == "sboms":
        # reference export_sboms (graven_database.py:407-448): decompress
        # each blob, package pretty-printed <jar_id>.json members into ONE
        # graven_sbom_dump archive (single-writer artifact → driver-side)
        from .functions.sbom import export_sbom_archive

        if not args.enrich:
            print("--what sboms requires --enrich (dir holding sboms/)")
            return 1
        if args.format not in ("zip", "tar.gz"):
            print("--what sboms supports --format zip|tar.gz")
            return 1
        # stream blobs through the driver one at a time (toLocalIterator over
        # a jar_id-ordered frame: deterministic member order, O(1 blob)
        # driver memory — a collected frame would OOM at millions of jars);
        # each row carries its RECORDED codec so decompression never guesses
        sboms_df = spark.read.parquet(os.path.join(args.enrich, "sboms"))
        codec_col = (
            F.col("codec") if "codec" in sboms_df.columns
            else F.lit(None).cast("string")
        )
        blobs = sboms_df.select(
            "jar_id", "sbom", codec_col.alias("codec")
        ).orderBy("jar_id")
        n = n_null = 0

        def rows():
            nonlocal n, n_null
            for r in blobs.toLocalIterator():
                if r.sbom is None:  # failed real-syft run: no blob to export
                    n_null += 1
                    continue
                n += 1
                yield r.jar_id, r.sbom, r.codec

        path = export_sbom_archive(rows(), args.out, args.format)
        skipped = f" (skipped {n_null} null blobs)" if n_null else ""
        print(f"exported {n} sboms{skipped} → {path}")
    else:
        from .sources.checkpoint import RoundStore

        if not args.state:
            print("--what results requires --state")
            return 1
        store = RoundStore(args.state)
        k = store.latest_round()
        if k is None:
            print("no committed rounds in state dir")
            return 1
        results = store.read_results(spark, k)
        if args.format in ("zip", "tar.gz"):
            n, n_rows = export_archive(
                results, args.out, "zip" if args.format == "zip" else "tar"
            )
            print(f"exported {n_rows} rows in {n} members → {args.out}")
        else:
            writer = results.write.mode("overwrite")
            (writer.json(args.out) if args.format == "json" else writer.parquet(args.out))
            print(f"exported {results.count()} rows → {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
