"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)``   — flagship: a full recursive crawl (frontier rounds, Bloom
                     dedup, politeness, Arrow extraction) over a
                     deterministic synthetic site whose leaf-page bodies are
                     drawn from /root/testdata/sf0.001 ``documents``.
``queries()``      — one entry per implemented operator family from
                     SURVEY.md §2 plus the training-data-pipeline operators
                     (dedup / similarity / text analysis / multimodal).
``oracle_sql()``   — DuckDB-equivalent SQL for every SQL-expressible query.

Column names and value normalization are aligned pairwise: integer outputs
cast to BIGINT on both sides, double outputs rounded, money summed as
DECIMAL then cast to DOUBLE.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graven_spark.operators import simsearch, textops  # noqa: E402
from graven_spark.operators.bloom import BloomSpec  # noqa: E402
from graven_spark.plans import enrich  # noqa: E402
from graven_spark.plans.driver import crawl  # noqa: E402
from graven_spark.plans.frontier import CrawlConfig  # noqa: E402
from graven_spark.sources import synth  # noqa: E402
from graven_spark.sources.multimodal import extract_features, synth_media  # noqa: E402

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"
_EN = textops._EN_STOPWORDS


def _temp_dir(prefix: str) -> str:
    """A fresh temp dir, removed when the interpreter exits: the cached
    crawls and ``entry()`` return lazy frames over it, so it must outlive
    the call that made it."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _run_crawl(spark: SparkSession, graph: synth.SiteGraph, workdir: str):
    pages_path = os.path.join(workdir, "pages.parquet")
    graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(graph.seeds)
    robots = spark.createDataFrame(
        graph.robots,
        schema="host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )
    cfg = CrawlConfig(use_bloom=True, bloom=BloomSpec(n_buckets=8, bits_per_shard=1 << 16))
    return crawl(spark, pages_path, seeds, robots, os.path.join(workdir, "state"), cfg)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: crawl a synthetic web graph whose leaf documents are the
    sf0.001 ``documents`` texts; return the extracted-results table."""
    docs = (
        _t(spark, "/root/testdata/sf0.001", "documents")
        .orderBy("doc_id")
        .limit(256)
        .collect()
    )
    graph = synth.generate_graph(
        synth.smoke_specs(), leaf_texts=[r.text for r in docs]
    )
    workdir = _temp_dir("graven_entry_")
    out = _run_crawl(spark, graph, workdir)
    return out.results(spark).orderBy("url")


# ---------------------------------------------------------------------------
# queries: crawl-engine operator inventory (SURVEY.md §2) over driver tables
# ---------------------------------------------------------------------------

def q_anti_join_unseen(spark, sf):  # J1/U3/P5: frontier ∖ seen as left_anti
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


def q_semi_join_seen(spark, sf):  # P5/P6 positive form: left_semi membership
    s, li = _t(spark, sf, "supplier"), _t(spark, sf, "lineitem")
    return s.join(li, s.s_suppkey == li.l_suppkey, "left_semi").select("s_suppkey", "s_name")


def q_fetch_join_broadcast(spark, sf):  # J2: big scan ⋈ broadcast small dim
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
    )


def q_union_dedup_seen(spark, sf):  # U1/U2/J7: seen MERGE = union + dedup
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    return (
        o.select(F.col("o_custkey").alias("key"))
        .unionByName(c.select(F.col("c_custkey").alias("key")))
        .distinct()
    )


def q_politeness_topk(spark, sf):  # W3/T4: per-host budget = top-k per group
    from pyspark.sql.window import Window

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("user_id", "event_id", F.col("rn").cast("long").alias("rn"))
    )


def q_politeness_bytes(spark, sf):  # §4.2.3: byte-cost token bucket
    from graven_spark.operators.politeness import select_round_bytes

    e = _t(spark, sf, "events")
    fr = e.select(
        F.col("event_id").cast("long").alias("priority"),
        F.col("user_id").cast("string").alias("host"),
        ((F.col("event_id") % 97) + 1).cast("long").alias("est_bytes"),
    )
    sel = select_round_bytes(fr, byte_budget=200, min_row_bytes=1)
    return sel.filter(F.col("selected")).select("host", "priority", "est_bytes")


def q_claim_first(spark, sf):  # W4/T1: deterministic LIMIT-1 claim per key
    from pyspark.sql.window import Window

    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate")
    )


def q_global_topk(spark, sf):  # T3: global jar-limit = priority top-k
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .select("o_orderkey", "o_totalprice")
        .limit(10)
    )


def q_lineage_rollup(spark, sf):  # A1-A3 + rollup
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


def q_stage_counters(spark, sf):  # A2/A6: per-stage throughput counters
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.count_distinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
    )


def q_status_case(spark, sf):  # P11: domain-status CASE gate
    o = _t(spark, sf, "orders")
    status = (
        F.when(F.col("o_orderstatus") == "F", "COMPLETED")
        .when(F.col("o_orderstatus") == "O", "IN_PROGRESS")
        .otherwise("PENDING")
    )
    return (
        o.select(status.alias("crawl_status"), F.year("o_orderdate").cast("long").alias("yr"))
        .groupBy("crawl_status", "yr")
        .agg(F.count("*").alias("n"))
    )


def q_where_builder(spark, sf):  # P12/P10: equality-conjunction + IS NULL filter
    e = _t(spark, sf, "events")
    from functools import reduce
    conds = {"event_type": "click"}
    pred = reduce(lambda a, b: a & b, [F.col(k) == v for k, v in conds.items()])
    return e.filter(pred & F.col("value").isNotNull()).select("event_id", "user_id", "value")


def q_assoc_dedup(spark, sf):  # J3/J4: association insert with PK dedup
    li = _t(spark, sf, "lineitem")
    return (
        li.select("l_partkey", "l_suppkey")
        .dropDuplicates(["l_partkey", "l_suppkey"])
        .groupBy("l_partkey")
        .agg(F.count("*").alias("n_supps"))
    )


def q_gav_parse(spark, sf):  # F1/F2: GAV coordinate split
    p = _t(spark, sf, "part")
    uri = F.concat_ws(
        "/",
        F.regexp_replace(F.col("p_type"), " ", "/"),
        F.col("p_brand"),
        F.col("p_size").cast("string"),
        F.concat(F.col("p_brand"), F.lit("-"), F.col("p_size").cast("string"), F.lit(".jar")),
    )
    d = p.select("p_partkey", uri.alias("uri"))
    return d.select("p_partkey", "uri", *enrich.parse_gav(F.col("uri")))


def q_listing_ts_parse(spark, sf):  # F3/F5: listing-timestamp roundtrip
    e = _t(spark, sf, "events")
    ts_str = F.date_format("ts", "yyyy-MM-dd HH:mm")
    return e.select(
        "event_id",
        ts_str.alias("ts_str"),
        F.to_timestamp(ts_str, "yyyy-MM-dd HH:mm").alias("ts_min"),
    )


def q_json_flatten(spark, sf):  # F9/F10: nested JSON field extraction
    e = _t(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_id", k.alias("k_val")).filter(F.col("k_val") > 50)


def q_error_json(spark, sf):  # F11: details dict → JSON string
    e = _t(spark, sf, "events")
    return e.filter(F.col("event_id") < 100).select(
        "event_id",
        F.to_json(F.struct(F.col("event_id"), F.col("event_type"))).alias("details"),
    )


def q_prefix_filter(spark, sf):  # P7: startswith gate (CVE-prefix analog)
    d = _t(spark, sf, "documents")
    return (
        d.filter(F.col("source").startswith("src1"))
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )


def q_host_extract(spark, sf):  # F13: parse_url host
    d = _t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/d/"),
        F.col("doc_id").cast("string"),
    )
    return d.select("doc_id", F.parse_url(url, F.lit("HOST")).alias("host"))


def q_sha_digest(spark, sf):  # F6: sha256 content digest
    c = _t(spark, sf, "customer")
    return (
        c.filter(F.col("c_custkey") <= 50)
        .select("c_custkey", F.sha2(F.col("c_name"), 256).alias("digest"))
    )


def q_tumbling_window(spark, sf):  # §2.9: tumbling-window counts (batch form)
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n")
    )


def q_first_en(spark, sf):  # P8: first english entry per group
    d = _t(spark, sf, "documents")
    return d.groupBy("source").agg(
        F.min(F.when(F.col("lang") == "en", F.col("doc_id"))).alias("first_en_doc")
    )


def q_duration_format(spark, sf):  # F8: elapsed seconds → hh:mm:ss
    from graven_spark.functions.duration import format_hms

    e = _t(spark, sf, "events").filter(F.col("event_id") < 500)
    secs = (F.col("event_id") * 37) % 100000
    return e.select("event_id", format_hms(secs).alias("hms"))


def q_flatten_grype(spark, sf):  # F9/S11: grype-report nested-array explode
    # reports fixture constructed deterministically from `part` (FIXTURES §5);
    # the Spark side genuinely parses the nested JSON (from_json + explode +
    # CVE-prefix filter, enrich.flatten_grype); the oracle computes the
    # expected output rows directly.
    p = _t(spark, sf, "part")
    k = F.col("p_partkey").cast("string")
    sev = F.element_at(
        F.array(F.lit("Critical"), F.lit("High"), F.lit("Medium"), F.lit("Low")),
        (F.col("p_partkey") % 4 + 1).cast("int"),
    )
    id2 = F.when(F.col("p_partkey") % 5 == 0, F.lit("GHSA-xxxx-yyyy")).otherwise(
        F.concat(F.lit("CVE-2020-"), (F.col("p_partkey") % 1000).cast("string"))
    )
    day = F.lpad(((F.col("p_partkey") % 28) + 1).cast("string"), 2, "0")
    rj = F.concat(
        F.lit('{"matches":[{"vulnerability":{"id":"CVE-2024-'), k,
        F.lit('","severity":"'), sev,
        F.lit('"}},{"vulnerability":{"id":"'), id2,
        F.lit('","severity":"Low"}}],"descriptor":{"timestamp":"2024-03-'), day,
        F.lit('T12:00:00"}}'),
    )
    reports = p.select(
        F.concat(F.lit("jar"), k).alias("jar_id"), rj.alias("report_json")
    )
    return enrich.flatten_grype(reports)


def q_parse_nvd(spark, sf):  # F10/S8: NVD payload parse (first-en, CWE filter)
    c = _t(spark, sf, "customer").filter(F.col("c_custkey") <= 500)
    k = F.col("c_custkey").cast("string")
    score_str = F.concat((F.col("c_custkey") % 10).cast("string"), F.lit(".5"))
    nvd = F.concat(
        F.lit('{"vulnerabilities":[{"cve":{"id":"CVE-2024-'), k,
        F.lit('","descriptions":[{"lang":"fr","value":"desc-fr"},'
              '{"lang":"en","value":"desc-'), k,
        F.lit('"}],"metrics":{"cvssMetricV31":[{"cvssData":{"baseScore":'), score_str,
        F.lit('}}]},"weaknesses":[{"description":[{"value":"CWE-'),
        (F.col("c_custkey") % 100).cast("string"),
        F.lit('"},{"value":"NVD-CWE-noinfo"}]}]}}]}'),
    )
    out = enrich.parse_nvd(c.select(nvd.alias("nvd_json")))
    return out.select(
        "cve_id", "description_en", "base_score",
        F.array_join("cwes", ",").alias("cwe_list"),
    )


def q_nvd_lookup(spark, sf):  # S8: batch enrichment lookup with miss rows
    requested = q_flatten_grype(spark, sf).select(F.col("vuln_id").alias("cve_id"))
    ref = q_parse_nvd(spark, sf)
    return enrich.nvd_batch_lookup(requested, ref).withColumn(
        "found", F.col("found").cast("int")
    )


def q_cwe_page_parse(spark, sf):  # S9: MITRE CWE page scrape shape
    n = _t(spark, sf, "nation")
    k = F.col("n_nationkey").cast("string")
    cwe_id = F.concat(F.lit("CWE-"), k)
    # every 3rd page: Abstract div instead of Description; every 5th: no h2
    h2 = F.when(F.col("n_nationkey") % 5 == 0, F.lit("")).otherwise(
        F.concat(F.lit("<h2>CWE-"), k, F.lit(": Weak "), F.col("n_name"), F.lit("</h2>"))
    )
    body = F.when(
        F.col("n_nationkey") % 3 == 0,
        F.concat(F.lit('<div id="Abstract">Abstract for '), k, F.lit("</div>")),
    ).otherwise(
        F.concat(F.lit('<div id="Description">Description about '), k, F.lit("</div>")),
    )
    pages = n.select(cwe_id.alias("cwe_id"), F.concat(h2, body).alias("html"))
    return enrich.parse_cwe_page(pages)


def q_posexplode_order(spark, sf):  # W1: document-order explode with index
    d = _t(spark, sf, "documents")
    first3 = F.slice(F.split("text", " "), 1, 3)
    return d.select(
        "doc_id", F.posexplode(first3).alias("pos", "w")
    ).select("doc_id", F.col("pos").cast("long").alias("pos"), "w")


# ---------------------------------------------------------------------------
# training-data-pipeline operators
# ---------------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    return textops.exact_dedup(_t(spark, sf, "documents"))


def q_dedup_ngram_jaccard(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    # the skew cap (stop-shingle df filter) is the default AND expressed in
    # the oracle SQL — the benched query is the shipped query
    return textops.ngram_jaccard_pairs(d, n=3, threshold=0.2, max_shingle_df=1000)


def q_dedup_minhash_lsh(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 200)
    return textops.minhash_lsh_candidates(d, n=3, k=16, bands=4)


def q_dedup_simhash(spark, sf):
    d = _t(spark, sf, "documents").filter(F.col("doc_id") < 300)
    return textops.simhash(d, bits=32)


def q_lang_id(spark, sf):
    return textops.lang_id(_t(spark, sf, "documents"))


def q_quality_score(spark, sf):
    return textops.quality_score(_t(spark, sf, "documents"))


def q_token_count(spark, sf):
    return textops.token_count(_t(spark, sf, "documents"))


def q_fingerprint(spark, sf):
    return textops.fingerprint(_t(spark, sf, "documents").filter(F.col("doc_id") < 300))


def _query_vec(spark, sf) -> list[float]:
    row = _t(spark, sf, "embeddings").filter(F.col("vec_id") == 0).head()
    return [float(x) for x in row.embedding]


def q_embed_cosine_topk(spark, sf):
    e = _t(spark, sf, "embeddings")
    return simsearch.cosine_topk(e, _query_vec(spark, sf), k=10)


def q_embed_ann_lsh(spark, sf):
    """Single-bucket ANN against the PERSISTED partitioned index — the
    production path (partition pruning reads one bucket directory, no
    per-query re-hash of the table). The unindexed scan-and-hash form
    (simsearch.lsh_bucketed_topk) stays as a test-only baseline
    (tests/test_simsearch.py)."""
    qv = _query_vec(spark, sf)
    qb = simsearch._query_bucket(qv, n_planes=6)
    return simsearch.ann_topk_indexed(
        spark, _srp_index_path(spark, sf), qv, k=10, n_planes=6, buckets=[qb]
    )


def q_corpus_prepare(spark, sf):
    """Composed LLM-corpus prep (operators/textops.corpus_prepare): exact
    dedup → lang gate → quality gate → embedding near-dup drop → token
    counts, one declarative plan over documents ⋈ embeddings."""
    d = _t(spark, sf, "documents")
    e = _t(spark, sf, "embeddings")
    dim = len(_query_vec(spark, sf))
    return textops.corpus_prepare(d, e, dim=dim, n_planes=6)


def q_dedup_embed_cosine(spark, sf):
    """Embedding-cosine near-dup pairs (the embedding member of the dedup
    family): SRP-bucketed self-join + JVM-side cosine, threshold on the
    rounded value. The synthetic corpus is near-orthogonal (max pairwise
    cosine ≈ 0.51), so the demo threshold is 0.3; production near-dup runs
    the same plan at ~0.9 where real duplicate clusters live."""
    e = _t(spark, sf, "embeddings")
    dim = len(_query_vec(spark, sf))
    return simsearch.embed_near_dup(e, threshold=0.3, dim=dim, n_planes=6)


def q_dedup_embed_drop(spark, sf):
    """Keep-lowest-id verdict over the near-dup pairs: ids to drop."""
    return simsearch.near_dup_drop_ids(q_dedup_embed_cosine(spark, sf))


_SRP_IDX: dict[str, str] = {}


def _srp_index_path(spark, sf) -> str:
    """Materialize the partitioned SRP index once per sf dir (the 100-TB
    shape: queries prune to their probed buckets' partitions)."""
    if sf not in _SRP_IDX:
        path = _temp_dir("graven_srp_idx_")
        e = _t(spark, sf, "embeddings")
        dim = len(_query_vec(spark, sf))
        simsearch.write_srp_index(e, path, dim=dim, n_planes=6)
        _SRP_IDX[sf] = path
    return _SRP_IDX[sf]


def q_embed_ann_multiprobe(spark, sf):
    qv = _query_vec(spark, sf)
    return simsearch.ann_topk_indexed(
        spark, _srp_index_path(spark, sf), qv, k=10, n_planes=6
    )


# -- crawl-output queries (oracled by the pure-Python reference oracle:
#    the crawl graph is deterministic, so the expected rows are emitted as a
#    VALUES literal computed by graven_spark.oracle — the same single-threaded
#    reference-faithful implementation the replay tests pin the engine to) ----

_CRAWL_CACHE: dict[str, object] = {}


def _cached_smoke_crawl(spark):
    if "smoke" not in _CRAWL_CACHE:
        graph = synth.generate_graph(synth.mini_specs())
        workdir = _temp_dir("graven_q_")
        _CRAWL_CACHE["smoke"] = _run_crawl(spark, graph, workdir)
    return _CRAWL_CACHE["smoke"]


def _pages_dict_pd(pages_pd):
    return {
        r.url: {"html": r.html, "warc_ts": r.warc_ts.to_pydatetime(), "lang": r.lang}
        for r in pages_pd.itertuples()
    }


def _robots_dict_pd(robots_pd):
    return {
        r.host: {
            "disallow_prefixes": list(r.disallow_prefixes),
            "crawl_delay_tokens": int(r.crawl_delay_tokens),
        }
        for r in robots_pd.itertuples()
    }


def _smoke_oracle_run(max_retries: int = 0, with_robots: bool = True,
                      jar_limit: int | None = None):
    from graven_spark.oracle import crawl_oracle

    key = f"ora_{max_retries}_{with_robots}_{jar_limit}"
    if key not in _CRAWL_CACHE:
        graph = synth.generate_graph(synth.mini_specs())
        _CRAWL_CACHE[key] = crawl_oracle(
            _pages_dict_pd(graph.pages),
            list(graph.seeds.sort_values("seed_rank")["url"]),
            _robots_dict_pd(graph.robots) if with_robots else None,
            max_retries=max_retries,
            jar_limit=jar_limit,
        )
    return _CRAWL_CACHE[key]


def _sq(s: str) -> str:
    return s.replace("'", "''")


def q_media_features(spark, sf):
    return extract_features(synth_media(spark, 64)).drop("feature")


def q_crawl_smoke(spark, sf):
    out = _cached_smoke_crawl(spark)
    return out.results(spark).select(
        "url",
        F.col("depth").cast("long").alias("depth"),
        F.col("round").cast("long").alias("round"),
        "text",
    )


def _cached_limit_crawl(spark):
    if "limit" not in _CRAWL_CACHE:
        graph = synth.generate_graph(synth.mini_specs())
        workdir = _temp_dir("graven_q_")
        pages_path = os.path.join(workdir, "pages.parquet")
        graph.pages.to_parquet(pages_path, index=False)
        seeds = spark.createDataFrame(graph.seeds)
        robots = spark.createDataFrame(
            graph.robots,
            schema="host string, disallow_prefixes array<string>, crawl_delay_tokens int",
        )
        cfg = CrawlConfig(
            use_bloom=True, bloom=BloomSpec(n_buckets=8, bits_per_shard=1 << 16),
            jar_limit=6,
        )
        _CRAWL_CACHE["limit"] = crawl(
            spark, pages_path, seeds, robots, os.path.join(workdir, "state"), cfg
        )
    return _CRAWL_CACHE["limit"]


def q_crawl_jar_limit(spark, sf):
    """T3 --jar-limit (reference downloader.py:60,188-195 semaphore): crawl
    with a global cap of 6 URLs/round; the per-round lineage totals must
    replay the capped oracle exactly (urls_in ≤ 6 every round, deferred
    rows re-ranked ahead of newer discoveries)."""
    out = _cached_limit_crawl(spark)
    return (
        out.lineage(spark)
        .groupBy("round")
        .agg(
            F.sum("urls_in").alias("urls_in"),
            F.sum("urls_out").alias("urls_out"),
            F.sum("bytes_fetched").alias("bytes_fetched"),
        )
        .select(F.col("round").cast("long").alias("round"), "urls_in",
                "urls_out", "bytes_fetched")
    )


def q_crawl_retry(spark, sf):  # U4: requeue-on-failure error multiset
    graph = synth.generate_graph(synth.mini_specs())
    workdir = _temp_dir("graven_retry_")
    pages_path = os.path.join(workdir, "pages.parquet")
    graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(graph.seeds)
    from graven_spark.plans.driver import crawl

    cfg = CrawlConfig(
        use_bloom=True, bloom=BloomSpec(n_buckets=8, bits_per_shard=1 << 16),
        max_retries=2,
    )
    out = crawl(spark, pages_path, seeds, None, os.path.join(workdir, "state"), cfg)
    return out.errors(spark).select(
        F.col("round").cast("long").alias("round"), "url", "stage", "reason",
        "details",
    )


def q_domain_lifecycle(spark, sf):  # crawl_start/crawl_end + COMPLETED gate
    out = _cached_smoke_crawl(spark)
    return out.domains(spark).select(
        "host",
        "status",
        F.col("start_round").cast("long").alias("start_round"),
        F.col("end_round").cast("long").alias("end_round"),
    )


# -- the composed `graven run` pipeline over the smoke crawl (flagship;
#    reference pipeline_builder.py:124-224): the enrichment tables are
#    oracled by the pure-Python pipeline_oracle over the crawl oracle's
#    results — the SAME fixture formulas, computed without Spark ------------

def _cached_pipeline(spark):
    if "pipe" not in _CRAWL_CACHE:
        from graven_spark.plans.pipeline import enrich_from_results

        out = _cached_smoke_crawl(spark)
        _CRAWL_CACHE["pipe"] = enrich_from_results(
            spark, out.results(spark), "run0"
        )
    return _CRAWL_CACHE["pipe"]


def _pipeline_oracle_tables():
    if "pipe_ora" not in _CRAWL_CACHE:
        from graven_spark.plans.pipeline import pipeline_oracle

        run = _smoke_oracle_run()
        _CRAWL_CACHE["pipe_ora"] = pipeline_oracle(
            [(r["url"], r["publish_ts"]) for r in run.results], "run0"
        )
    return _CRAWL_CACHE["pipe_ora"]


def q_run_pipeline_jars(spark, sf):  # jar table from the composed run
    t = _cached_pipeline(spark)
    return t["jars"].select(
        "jar_id", "uri", "group_id", "artifact_id", "version",
        F.date_format("publish_date", "yyyy-MM-dd HH:mm:ss").alias("publish_date"),
    )


def q_run_pipeline_assoc(spark, sf):  # jar__cve assoc from the composed run
    return _cached_pipeline(spark)["jar_cve"].select("jar_id", "cve_id")


def q_run_pipeline_cve(spark, sf):  # enriched cve table (hits + misses)
    return _cached_pipeline(spark)["cve"].select(
        "cve_id", "description_en", "base_score",
        F.array_join("cwes", ",").alias("cwe_list"),
        F.col("found").cast("int").alias("found"),
    )


def q_run_pipeline_cwe(spark, sf):  # cwe table parsed from fixture pages
    return _cached_pipeline(spark)["cwe"].select(
        "cwe_id", "cwe_name", "cwe_description", "link"
    )


def q_run_pipeline_sboms(spark, sf):  # sbom blob table (S6): roundtrip oracle
    # the contract is on the DECOMPRESSED payload (sha + length) plus the
    # recorded codec — compressed bytes are codec-version detail
    from graven_spark.functions.sbom import decompress_column

    t = _cached_pipeline(spark)
    df = decompress_column(t["sboms"], "sbom", "payload")
    return df.select(
        "jar_id",
        F.sha2(F.col("payload").cast("binary"), 256).alias("payload_sha"),
        F.length("payload").cast("long").alias("payload_len"),
        "codec",
    )


# Deterministic scanned-frame fixture for the scan-failure split (the
# real-scanner 4-column output shape, operators/scanner.py SCAN_SCHEMA):
# known exit codes → known ok/failure partition and details JSON.
def _scan_split_fixture() -> list[tuple]:
    rows = []
    for i in range(24):
        jar = f"jar{i:02d}.jar"
        if i % 4 == 1:  # binary exploded
            rows.append((jar, None, 3, f"fake scanner exploded on {i}"))
        elif i % 4 == 2:  # killed by the timeout
            rows.append((jar, None, 124, "timeout after 60.0s"))
        elif i % 8 == 7:  # exit 0 but no report written
            rows.append((jar, None, 0, "no report produced"))
        else:  # clean scan
            rows.append((jar, '{"matches":[]}', 0, None))
    return rows


def q_scan_failure_split(spark, sf):  # §2.12: failure rows from a real scan
    from graven_spark.operators.scanner import SCAN_SCHEMA, split_scan_failures

    scanned = spark.createDataFrame(_scan_split_fixture(), SCAN_SCHEMA)
    _ok, failures = split_scan_failures(scanned, "run0")
    return failures.select("round", "url", "stage", "reason", "details")


def _scan_failure_split_sql() -> str:
    import json as _json

    vals = []
    for jar, rep, code, err in _scan_split_fixture():
        if code == 0 and rep is not None:
            continue  # ok row: flows to the analyzer, not the error log
        details = _json.dumps(  # byte-identical to Spark's to_json(struct)
            {"exit_code": code, "error": err, "run_id": "run0"},
            separators=(",", ":"),
        )
        vals.append(f"('{jar}', '{_sq(details)}')")
    return (
        "SELECT CAST(NULL AS INTEGER) AS round, url, 'scanner' AS stage, "
        f"'scan_failed' AS reason, details FROM (VALUES {', '.join(vals)}) "
        "AS t(url, details)"
    )


def q_payload_attach(spark, sf):  # §2.13 R1: winner-row artifact bytes per jar
    from graven_spark.plans.pipeline import attach_payload, jar_table

    out = _cached_smoke_crawl(spark)
    results = out.results(spark)
    graph = synth.generate_graph(synth.mini_specs())
    pages = spark.createDataFrame(graph.pages)
    att = attach_payload(jar_table(results, "run0"), results, pages)
    return att.select(
        "jar_id",
        F.sha2(F.col("payload"), 256).alias("payload_sha"),
        F.length("payload").cast("long").alias("payload_len"),
    )


def _payload_attach_sql() -> str:
    import hashlib
    import re

    from graven_spark.plans.pipeline import REPO_PREFIX_RE, jar_table_py

    run = _smoke_oracle_run()
    graph = synth.generate_graph(synth.mini_specs())
    pages = {r.url: bytes(r.html) for r in graph.pages.itertuples()}
    results = [(r["url"], r["publish_ts"]) for r in run.results]
    # python twin of attach_payload's winner-url recovery: min(url) over the
    # result rows sharing the winner's (jar_id, uri)
    urls: dict[tuple, str] = {}
    for url, _ in results:
        uri = re.sub(REPO_PREFIX_RE, "", url)
        key = (uri.split("/")[-1], uri)
        if key not in urls or url < urls[key]:
            urls[key] = url
    vals = []
    for j in jar_table_py(results):
        html = pages[urls[(j["jar_id"], j["uri"])]]
        vals.append(
            "('%s', '%s', %d)" % (
                _sq(j["jar_id"]), hashlib.sha256(html).hexdigest(), len(html)
            )
        )
    return (
        "SELECT jar_id, payload_sha, CAST(payload_len AS BIGINT) AS payload_len "
        f"FROM (VALUES {', '.join(vals)}) AS t(jar_id, payload_sha, payload_len)"
    )


def _robots_fixture():
    """Deterministic RFC 9309 robots.txt corpus + candidate URL grid —
    pure data shared by the Spark queries and their DuckDB VALUES twins
    (the oracle runs graven_spark.functions.robots.parse_robots_txt, the
    same pure function the executor UDF runs)."""
    texts = {
        "a.example.com": (
            "# site a\n"
            "User-agent: googlebot\n"
            "Disallow: /private/\n"
            "\n"
            "User-agent: graven\n"
            "Allow: /public/*.html$\n"
            "Disallow: /public/\n"
            "Crawl-delay: 2.5\n"
            "Disallow:\n"
            "\n"
            "User-agent: *\n"
            "Disallow: /\n"
            "Sitemap: https://a.example.com/sitemap.xml\n"
        ),
        "b.example.com": (
            "User-agent: *\n"
            "Disallow: /tmp/*\n"
            "Allow: /tmp/ok\n"
            "Sitemap: https://b.example.com/s1.xml\n"
            "Sitemap: https://b.example.com/s2.xml\n"
        ),
        "c.example.com": (
            "User-agent: *\n"
            "Disallow: /x\n"
            "Allow: /x\n"
            "Crawl-delay: not-a-number\n"
        ),
        "e.example.com": (
            "junk line without a colon\n"
            "User-agent: graven\n"
            "Disallow:\n"
            "User-agent: *\n"
            "Disallow: /\n"
        ),
    }
    grid = [
        "https://a.example.com/public/a.html",
        "https://a.example.com/public/a.htmlx",
        "https://a.example.com/public/deep/b.html",
        "https://a.example.com/other",
        "https://b.example.com/tmp/okra",
        "https://b.example.com/tmp/zzz",
        "https://b.example.com/free",
        "https://c.example.com/x/y",
        "https://d.example.com/anything",
        "https://e.example.com/all/open",
    ]
    return texts, grid


def _robots_pages_df(spark):
    import datetime as dt

    texts, _ = _robots_fixture()
    rows = [
        (f"https://{h}/robots.txt", dt.datetime(2024, 1, 1), t.encode(), None, None)
        for h, t in sorted(texts.items())
    ]
    return spark.createDataFrame(rows, PAGES_DDL)


def q_robots_parse(spark, sf):  # RFC 9309 parse → per-host rules table
    from graven_spark.functions.robots import rules_from_robots_pages

    rules = rules_from_robots_pages(_robots_pages_df(spark), "graven")
    return rules.select(
        "host",
        "crawl_delay",
        F.concat_ws(",", "sitemaps").alias("sitemaps"),
        F.posexplode_outer("rules").alias("rule_idx", "r"),
    ).select(
        "host",
        # NULL-free sentinels for the rule-less host row: a nullable
        # BOOLEAN round-trips as None via Spark but NaN via DuckDB, which
        # sorts differently under the driver's string normalization
        F.coalesce(F.col("rule_idx").cast("int"), F.lit(-1)).alias("rule_idx"),
        F.coalesce(F.col("r.allow").cast("string"), F.lit("")).alias("allow"),
        F.coalesce(F.col("r.rx"), F.lit("")).alias("rx"),
        F.coalesce(F.col("r.plen").cast("int"), F.lit(-1)).alias("plen"),
        "crawl_delay",
        "sitemaps",
    )


def _robots_parse_sql() -> str:
    from graven_spark.functions.robots import parse_robots_txt, pattern_to_regex

    texts, _ = _robots_fixture()
    vals = []
    for host in sorted(texts):
        p = parse_robots_txt(texts[host], "graven")
        delay = "CAST(NULL AS DOUBLE)" if p["crawl_delay"] is None else repr(p["crawl_delay"])
        sitemaps = ",".join(p["sitemaps"])
        if not p["rules"]:
            vals.append(f"('{host}', -1, '', '', -1, {delay}, '{_sq(sitemaps)}')")
            continue
        for idx, (allow, pattern) in enumerate(p["rules"]):
            vals.append(
                f"('{host}', {idx}, '{'true' if allow else 'false'}', "
                f"'{_sq(pattern_to_regex(pattern))}', {len(pattern)}, "
                f"{delay}, '{_sq(sitemaps)}')"
            )
    return (
        "SELECT host, CAST(rule_idx AS INTEGER) AS rule_idx, allow, rx, "
        "CAST(plen AS INTEGER) AS plen, CAST(crawl_delay AS DOUBLE) AS "
        f"crawl_delay, sitemaps FROM (VALUES {', '.join(vals)}) "
        "AS t(host, rule_idx, allow, rx, plen, crawl_delay, sitemaps)"
    )


def q_robots_gate(spark, sf):  # longest-match verdict per candidate URL
    from graven_spark.functions.canon import host_of, path_of
    from graven_spark.functions.robots import (
        robots_allowed_col,
        rules_from_robots_pages,
    )

    _, grid = _robots_fixture()
    rules = rules_from_robots_pages(_robots_pages_df(spark), "graven")
    cand = spark.createDataFrame([(u,) for u in grid], "url string").withColumn(
        "host", host_of(F.col("url"))
    )
    joined = cand.join(F.broadcast(rules.select("host", "rules")), "host", "left")
    return joined.select(
        "url",
        robots_allowed_col(path_of(F.col("url")), F.col("rules")).alias("allowed"),
    )


def _robots_gate_sql() -> str:
    from graven_spark.core import url_path
    from graven_spark.functions.robots import parse_robots_txt, robots_allowed

    texts, grid = _robots_fixture()
    rules = {h: parse_robots_txt(t, "graven")["rules"] for h, t in texts.items()}
    vals = []
    for url in grid:
        host = url.split("/")[2]
        ok = robots_allowed(url_path(url), rules.get(host, []))
        vals.append(f"('{url}', {'TRUE' if ok else 'FALSE'})")
    return (
        f"SELECT url, allowed FROM (VALUES {', '.join(vals)}) AS t(url, allowed)"
    )


def q_robots_delay_budget(spark, sf):  # RFC Crawl-delay → per-round budget
    from graven_spark.functions.robots import rules_from_robots_pages
    from graven_spark.operators.politeness import rfc_delay_budgets

    rules = rules_from_robots_pages(_robots_pages_df(spark), "graven")
    return rfc_delay_budgets(rules, 10.0).select(
        "host",
        F.coalesce(F.col("_budget"), F.lit(7)).cast("long").alias("budget"),
    )


def _robots_delay_budget_sql() -> str:
    import math

    from graven_spark.functions.robots import parse_robots_txt

    texts, _ = _robots_fixture()
    vals = []
    for host in sorted(texts):
        d = parse_robots_txt(texts[host], "graven")["crawl_delay"]
        budget = max(1, math.floor(10.0 / d)) if d and d > 0 else 7
        vals.append(f"('{host}', {budget})")
    return (
        "SELECT host, CAST(budget AS BIGINT) AS budget "
        f"FROM (VALUES {', '.join(vals)}) AS t(host, budget)"
    )


def _sitemap_fixture():
    """Deterministic sitemap corpus (robots advertisements + index nesting +
    malformed body + cross-sitemap duplicate locs) shared by the Spark
    queries and their VALUES twins (the oracle runs
    graven_spark.functions.sitemap.parse_sitemap, the same pure function
    the executor UDF runs)."""
    sm = {
        "https://sa.example.com/idx.xml": (
            b"<sitemapindex xmlns='http://www.sitemaps.org/schemas/sitemap/0.9'>"
            b"<sitemap><loc>https://sa.example.com/c1.xml</loc>"
            b"<lastmod>2024-02-01</lastmod></sitemap>"
            b"<sitemap><loc>https://sa.example.com/c2.xml</loc></sitemap>"
            b"</sitemapindex>"
        ),
        "https://sa.example.com/c1.xml": (
            b"<urlset><url><loc>https://sa.example.com/p1</loc>"
            b"<lastmod>2024-01-02</lastmod><changefreq>daily</changefreq>"
            b"<priority>0.8</priority></url>"
            b"<url><loc>https://sa.example.com/p2</loc><priority>7</priority>"
            b"</url><url><lastmod>2024-01-01</lastmod></url></urlset>"
        ),
        "https://sa.example.com/c2.xml": (
            b"<urlset><url><loc>https://sa.example.com/p2</loc></url>"
            b"<url><loc>https://sa.example.com/p3</loc>"
            b"<priority>junk</priority></url></urlset>"
        ),
        "https://sb.example.com/direct.xml": (
            b"<urlset><url><loc>https://sb.example.com/q1</loc></url>"
            b"<url><loc>https://sa.example.com/p1</loc></url></urlset>"
        ),
        "https://sb.example.com/broken.xml": b"junk < not xml",
    }
    robots = {
        "sa.example.com": (
            "User-agent: *\nDisallow:\n"
            "Sitemap: https://sa.example.com/idx.xml\n"
        ),
        "sb.example.com": (
            "User-agent: *\nDisallow:\n"
            "Sitemap: https://sb.example.com/direct.xml\n"
            "Sitemap: https://sb.example.com/broken.xml\n"
        ),
    }
    return sm, robots


def _sitemap_pages_df(spark):
    import datetime as dt

    sm, robots = _sitemap_fixture()
    rows = [
        (u, dt.datetime(2024, 1, 1), b, None, None) for u, b in sorted(sm.items())
    ] + [
        (f"https://{h}/robots.txt", dt.datetime(2024, 1, 1), t.encode(), None, None)
        for h, t in sorted(robots.items())
    ]
    return spark.createDataFrame(rows, PAGES_DDL)


def q_sitemap_parse(spark, sf):  # sitemap XML → exploded entry rows
    from graven_spark.functions.sitemap import entries_from_sitemap_pages

    sm, _ = _sitemap_fixture()
    pages = _sitemap_pages_df(spark).filter(F.col("url").isin(*sm))
    e = entries_from_sitemap_pages(pages)
    return e.select(
        "sitemap_url",
        # NULL-free sentinels (same driver-normalization rationale as
        # robots_parse): kind NULL only for malformed bodies
        F.coalesce("kind", F.lit("")).alias("kind"),
        F.col("parse_failed").cast("string").alias("parse_failed"),
        F.coalesce(F.col("entry_idx").cast("int"), F.lit(-1)).alias("entry_idx"),
        F.coalesce("loc", F.lit("")).alias("loc"),
        F.coalesce("lastmod", F.lit("")).alias("lastmod"),
        F.coalesce("changefreq", F.lit("")).alias("changefreq"),
        F.col("priority").cast("double").alias("priority"),
    )


def _sitemap_parse_sql() -> str:
    from graven_spark.functions.sitemap import parse_sitemap

    sm, _ = _sitemap_fixture()
    vals = []
    for u in sorted(sm):
        p = parse_sitemap(sm[u])
        if not p["entries"]:
            vals.append(
                f"('{u}', '{p['kind'] or ''}', "
                f"'{'true' if p['parse_failed'] else 'false'}', -1, '', '', "
                "'', CAST(NULL AS DOUBLE))"
            )
            continue
        for i, (loc, lastmod, cf, prio) in enumerate(p["entries"]):
            pv = "CAST(NULL AS DOUBLE)" if prio is None else repr(prio)
            vals.append(
                f"('{u}', '{p['kind']}', "
                f"'{'true' if p['parse_failed'] else 'false'}', {i}, "
                f"'{_sq(loc)}', '{_sq(lastmod or '')}', '{_sq(cf or '')}', {pv})"
            )
    return (
        "SELECT sitemap_url, kind, parse_failed, CAST(entry_idx AS INTEGER) "
        "AS entry_idx, loc, lastmod, changefreq, CAST(priority AS DOUBLE) AS "
        f"priority FROM (VALUES {', '.join(vals)}) AS t(sitemap_url, kind, "
        "parse_failed, entry_idx, loc, lastmod, changefreq, priority)"
    )


def q_sitemap_seeds(spark, sf):  # robots-advertised sitemaps → ordered seeds
    from graven_spark.functions.robots import rules_from_robots_pages
    from graven_spark.functions.sitemap import seeds_from_sitemaps

    pages = _sitemap_pages_df(spark)
    rules = rules_from_robots_pages(pages, "graven")
    return seeds_from_sitemaps(pages, rules).select(
        "url", F.col("seed_rank").cast("int").alias("seed_rank")
    )


def _sitemap_seeds_sql() -> str:
    from graven_spark.functions.robots import parse_robots_txt
    from graven_spark.functions.sitemap import parse_sitemap

    sm, robots = _sitemap_fixture()
    advertised = sorted(
        {s for t in robots.values() for s in parse_robots_txt(t, "graven")["sitemaps"]}
    )
    # one index-nesting level, then order by (sitemap_url, entry_idx)
    parsed = {u: parse_sitemap(sm[u]) for u in advertised if u in sm}
    nested = sorted(
        {e[0] for p in parsed.values() if p["kind"] == "index" for e in p["entries"]}
    )
    for u in nested:
        if u in sm and u not in parsed:
            parsed[u] = parse_sitemap(sm[u])
    seen, ordered = set(), []
    for u in sorted(parsed):
        p = parsed[u]
        if p["kind"] != "urlset":
            continue
        for loc, *_ in p["entries"]:
            if loc not in seen:
                seen.add(loc)
                ordered.append(loc)
    vals = ", ".join(f"('{_sq(u)}', {i + 1})" for i, u in enumerate(ordered))
    return (
        "SELECT url, CAST(seed_rank AS INTEGER) AS seed_rank "
        f"FROM (VALUES {vals}) AS t(url, seed_rank)"
    )


def _urlnorm_fixture() -> list[str]:
    """Deterministic RFC 3986 edge-case corpus shared by the Spark query
    and its VALUES twin (the oracle runs normalize_url_py, the pure twin
    the column expression mirrors step for step)."""
    return [
        "HTTP://Example.COM:80/a/b/../c/./d.html?x=1#frag",
        "https://Host:443/",
        "https://host:8443/x",
        "http://h/a/b/..",
        "http://h/a/.",
        "http://h/..",
        "http://h",
        "http://h?q=1",
        "http://h/a//b/./../c",
        "http://user@Host:80/p",
        "ftp://H/a/../",
        "no-scheme/path",
        "http://h/a#b://c",
        "x#y://z",
        "http://",
        "http://h/%41?Y=2",
        "http://a@b@C/p",
        "https://host0.example.com/maven2/d0s0/https://host0.example.com/maven2/",
    ]


def q_url_normalize(spark, sf):  # RFC 3986 syntactic normalization (JVM fold)
    from graven_spark.functions.urlnorm import normalize_url

    df = spark.createDataFrame([(u,) for u in _urlnorm_fixture()], "url string")
    return df.select("url", normalize_url(F.col("url")).alias("normalized"))


def _dedup_content_fixture() -> list[tuple[str, str]]:
    # 12 URLs over 4 distinct bodies — the shape --dedup-content collapses
    bodies = [
        "<html><body><h1>Alpha</h1>  <p>shared   body</p></body></html>",
        "<div>Beta <span>text</span>\nwith\tws</div>",
        "plain no tags",
        "",
    ]
    return [
        (f"https://h{i % 3}.example.com/p{i}", bodies[i % 4]) for i in range(12)
    ]


def q_dedup_content_extract(spark, sf):  # extract once per DISTINCT body
    from graven_spark.functions.extract import dedup_body_extract, extract_text

    rows = [(u, b.encode("utf-8")) for u, b in _dedup_content_fixture()]
    df = spark.createDataFrame(rows, "url string, html binary")
    keyed = df.withColumn("body_sha", F.sha2(F.col("html"), 256))
    return dedup_body_extract(keyed, extract_text, "text").select("url", "text")


def _dedup_content_sql() -> str:
    from graven_spark.core import extract_text_py

    vals = ", ".join(
        f"('{_sq(u)}', '{_sq(extract_text_py(b))}')"
        for u, b in _dedup_content_fixture()
    )
    return f"SELECT url, text FROM (VALUES {vals}) AS t(url, text)"


def _url_normalize_sql() -> str:
    from graven_spark.functions.urlnorm import normalize_url_py

    vals = ", ".join(
        f"('{_sq(u)}', '{_sq(normalize_url_py(u))}')" for u in _urlnorm_fixture()
    )
    return (
        "SELECT url, normalized "
        f"FROM (VALUES {vals}) AS t(url, normalized)"
    )


def _warc_fixture_records():
    from graven_spark.sources import warc as W

    b1 = b'<html><h1>Index of /r</h1><a href="a.jar">a.jar</a></html>'
    b2 = b"<html>mirror body</html>" * 40
    return [
        [  # segment 0 (.warc.gz, per-record members)
            W.build_warc_record("warcinfo", b"software: fixture\r\n"),
            W.build_warc_record(
                "response", W.http_response_block(b1),
                uri="https://w0.example.com/r/", date="2024-03-01T10:00:00Z",
            ),
            W.build_warc_record(
                "request", b"GET /r/ HTTP/1.1\r\n\r\n",
                uri="https://w0.example.com/r/",
            ),
            W.build_warc_record(
                "response", W.http_response_block(b"nope", 404),
                uri="https://w0.example.com/missing",
            ),
        ],
        [  # segment 1 (plain .warc)
            W.build_warc_record(
                "response",
                W.http_response_block(b2, 200, "text/html; charset=utf-8"),
                uri="https://w1.example.com/p",
                date="2024-03-01T10:00:01.250000Z",
            ),
        ],
    ]


_WARC_FIX: list[str] = []


def _warc_fixture_dir() -> str:
    """Materialize the deterministic two-segment fixture once per process
    (one Common-Crawl-layout .warc.gz, one plain .warc)."""
    from graven_spark.sources import warc as W

    if not _WARC_FIX:
        d = _temp_dir("graven_warc_fix_")
        segs = _warc_fixture_records()
        with open(os.path.join(d, "seg-00000.warc.gz"), "wb") as f:
            f.write(W.build_warc(segs[0], gzip_members=True))
        with open(os.path.join(d, "seg-00001.warc"), "wb") as f:
            f.write(W.build_warc(segs[1]))
        _WARC_FIX.append(d)
    return _WARC_FIX[0]


def q_warc_ingest(spark, sf):
    """WARC (ISO 28500) segment ingestion — the Common-Crawl-native pages
    source (sources/warc.py): streaming record parse in mapInPandas, one
    task per segment, response-2xx rows become pages. Hash-compared via
    sha2(html) since the oracle is a VALUES twin from the pure parser."""
    from graven_spark.sources import warc as W

    pages = W.pages_from_warc(spark, os.path.join(_warc_fixture_dir(), "seg-*"))
    return pages.select(
        "url", "warc_ts", "http_status", "mime",
        F.length("html").cast("long").alias("n_bytes"),
        F.lower(F.sha2("html", 256)).alias("body_sha"),
    )


def _warc_ingest_sql() -> str:
    import hashlib

    from graven_spark.sources import warc as W

    rows = []
    for seg in _warc_fixture_records():
        for r in W.parse_warc(W.build_warc(seg)):
            ts = r["warc_ts"].isoformat(sep=" ")
            rows.append(
                f"('{_sq(r['url'])}', TIMESTAMP '{ts}', {r['http_status']}, "
                f"'{_sq(r['mime'])}', {len(r['html'])}, "
                f"'{hashlib.sha256(r['html']).hexdigest()}')"
            )
    vals = ", ".join(rows)
    return (
        "SELECT * FROM (VALUES "
        f"{vals}) AS t(url, warc_ts, http_status, mime, n_bytes, body_sha)"
    )


def _cdx_fixture_lines() -> list[str]:
    return [
        'com,a)/ 20240102030405 {"url": "https://a.com/", "mime": "text/html", '
        '"status": "200", "digest": "sha1:AAA", "length": "120", "offset": "0", '
        '"filename": "crawl/seg-00000.warc.gz"}',
        'com,a)/ 20240201000000 {"url": "https://a.com/", "mime": "text/html", '
        '"status": "200", "digest": "sha1:AAB", "length": "121", "offset": "99", '
        '"filename": "crawl/seg-00007.warc.gz"}',
        'com,b)/p 20240101000000 {"url": "https://b.com/p", "mime": "text/html", '
        '"status": "404", "digest": "sha1:BBB", "length": "50", "offset": "10", '
        '"filename": "crawl/seg-00001.warc.gz"}',
        'com,c)/x 20240103000000 {"url": "https://c.com/x", '
        '"mime": "application/pdf", "status": "200", "digest": "sha1:CCC", '
        '"length": "9999", "offset": "20", "filename": "crawl/seg-00002.warc.gz"}',
        'com,d)/ 20240104000000 {"url": "https://d.com/", "mime": "text/html", '
        '"status": "200"}',
        'com,bad)/ 20240105000000 {"url": broken json}',
        "not a cdx line at all",
        'com,e)/ 20241399000000 {"url": "https://e.com/", "mime": "text/html", '
        '"status": "200", "digest": "sha1:EEE", "length": "1", "offset": "2", '
        '"filename": "crawl/seg-00003.warc.gz"}',
    ]


_CDX_FIX: list[str] = []


def _cdx_fixture_path() -> str:
    if not _CDX_FIX:
        d = _temp_dir("graven_cdx_fix_")
        p = os.path.join(d, "cdx-00000")
        with open(p, "w") as f:
            f.write("\n".join(_cdx_fixture_lines()))
        _CDX_FIX.append(p)
    return _CDX_FIX[0]


def q_cdx_parse(spark, sf):
    """Common-Crawl CDX(J) index parse (sources/cdx.py read_cdx): one
    regexp_extract split + from_json, all JVM, malformed lines kept as
    parse_failed rows."""
    from graven_spark.sources import cdx as C

    return C.read_cdx(spark, _cdx_fixture_path())


def q_cdx_seeds(spark, sf):
    """Seed derivation from the index: html-200 captures, first capture per
    url via a map-side-combinable min (no window/global sort), priority =
    first-capture epoch (unknown time → sentinel, sorts last)."""
    from graven_spark.sources import cdx as C

    return C.seeds_from_cdx(C.read_cdx(spark, _cdx_fixture_path()))


def _cdx_sql(seeds: bool = False) -> str:
    from graven_spark.sources.cdx import parse_cdx_line

    rows = [parse_cdx_line(ln) for ln in _cdx_fixture_lines()]

    def lit(v, typ):
        if v is None:
            return f"CAST(NULL AS {typ})"
        if typ == "TIMESTAMP":
            return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
        if typ in ("INT", "BIGINT"):
            return str(v)
        if typ == "BOOLEAN":
            return "true" if v else "false"
        return f"'{_sq(v)}'"

    cols = [
        ("urlkey", "VARCHAR"), ("fetch_ts", "TIMESTAMP"), ("url", "VARCHAR"),
        ("mime", "VARCHAR"), ("http_status", "INT"), ("digest", "VARCHAR"),
        ("warc_length", "BIGINT"), ("warc_offset", "BIGINT"),
        ("warc_path", "VARCHAR"), ("parse_failed", "BOOLEAN"),
    ]
    vals = ", ".join(
        "(" + ", ".join(lit(r[c], t) for c, t in cols) + ")" for r in rows
    )
    base = (
        f"SELECT * FROM (VALUES {vals}) AS "
        f"t({', '.join(c for c, _ in cols)})"
    )
    if not seeds:
        return base
    return (
        f"WITH cdx AS ({base}) "
        "SELECT url, coalesce(CAST(epoch(min(fetch_ts)) AS BIGINT), "
        f"{1 << 62}) AS priority "
        "FROM cdx WHERE NOT parse_failed AND http_status = 200 "
        "AND mime = 'text/html' GROUP BY url"
    )


def q_run_pipeline_stages(spark, sf):  # per-worker-stage lineage rollup
    from graven_spark.plans.pipeline import stage_lineage_from

    out = _cached_smoke_crawl(spark)
    t = _cached_pipeline(spark)
    return stage_lineage_from(out.results(spark), t, "run0").select(
        "stage", F.col("rows_out").cast("long").alias("rows_out")
    )


def _run_pipeline_jars_sql() -> str:
    vals = ", ".join(
        "('%s', '%s', %s, %s, %s, '%s')" % (
            _sq(j["jar_id"]), _sq(j["uri"]),
            "NULL" if j["group_id"] is None else f"'{_sq(j['group_id'])}'",
            "NULL" if j["artifact_id"] is None else f"'{_sq(j['artifact_id'])}'",
            "NULL" if j["version"] is None else f"'{_sq(j['version'])}'",
            j["publish_date"].strftime("%Y-%m-%d %H:%M:%S"),
        )
        for j in _pipeline_oracle_tables()["jars"]
    )
    return (
        "SELECT jar_id, uri, CAST(group_id AS VARCHAR) AS group_id, "
        "CAST(artifact_id AS VARCHAR) AS artifact_id, "
        "CAST(version AS VARCHAR) AS version, publish_date "
        f"FROM (VALUES {vals}) AS t(jar_id, uri, group_id, artifact_id, "
        "version, publish_date)"
    )


def _run_pipeline_assoc_sql() -> str:
    vals = ", ".join(
        f"('{_sq(j)}', '{c}')" for j, c in _pipeline_oracle_tables()["jar_cve"]
    )
    return f"SELECT jar_id, cve_id FROM (VALUES {vals}) AS t(jar_id, cve_id)"


def _run_pipeline_cve_sql() -> str:
    vals = ", ".join(
        "('%s', %s, %s, %s, %d)" % (
            c["cve_id"],
            "NULL" if c["description_en"] is None else f"'{c['description_en']}'",
            "NULL" if c["base_score"] is None else repr(c["base_score"]),
            "NULL" if c["cwes"] is None else "'" + ",".join(c["cwes"]) + "'",
            1 if c["found"] else 0,
        )
        for c in _pipeline_oracle_tables()["cve"]
    )
    return (
        "SELECT cve_id, CAST(description_en AS VARCHAR) AS description_en, "
        "CAST(base_score AS DOUBLE) AS base_score, "
        "CAST(cwe_list AS VARCHAR) AS cwe_list, CAST(found AS INT) AS found "
        f"FROM (VALUES {vals}) AS t(cve_id, description_en, base_score, "
        "cwe_list, found)"
    )


def _run_pipeline_stages_sql() -> str:
    ora = _pipeline_oracle_tables()
    run = _smoke_oracle_run()
    counts = [
        ("crawler", len(run.results)),
        ("downloader", len(ora["jars"])),
        ("generator", len(ora["sboms"])),
        ("scanner", len(ora["jars"])),
        ("analyzer", len(ora["jar_cve"])),
        ("vuln_fetcher", len(ora["cve"])),
        ("cwe_fetcher", len(ora["cwe"])),
    ]
    vals = ", ".join(f"('{s}', {n})" for s, n in counts)
    return (
        "SELECT stage, CAST(rows_out AS BIGINT) AS rows_out "
        f"FROM (VALUES {vals}) AS t(stage, rows_out)"
    )


def _run_pipeline_sboms_sql() -> str:
    import hashlib

    from graven_spark.functions.sbom import CODEC

    vals = ", ".join(
        "('%s', '%s', %d, '%s')" % (
            _sq(s["jar_id"]),
            hashlib.sha256(s["sbom_json"].encode("utf-8")).hexdigest(),
            len(s["sbom_json"]),
            CODEC,
        )
        for s in _pipeline_oracle_tables()["sboms"]
    )
    return (
        "SELECT jar_id, payload_sha, CAST(payload_len AS BIGINT) AS payload_len, "
        f"codec FROM (VALUES {vals}) AS t(jar_id, payload_sha, payload_len, codec)"
    )


def _run_pipeline_cwe_sql() -> str:
    vals = ", ".join(
        f"('{c['cwe_id']}', '{_sq(c['cwe_name'])}', "
        f"'{_sq(c['cwe_description'])}', '{c['link']}')"
        for c in _pipeline_oracle_tables()["cwe"]
    )
    return (
        "SELECT cwe_id, cwe_name, cwe_description, link "
        f"FROM (VALUES {vals}) AS t(cwe_id, cwe_name, cwe_description, link)"
    )


def _crawl_smoke_sql() -> str:
    run = _smoke_oracle_run()
    vals = ", ".join(
        f"('{_sq(r['url'])}', {r['depth']}, {r['round']}, '{_sq(r['text'])}')"
        for r in run.results
    )
    return (
        "SELECT url, CAST(depth AS BIGINT) AS depth, CAST(round AS BIGINT) AS round, "
        f"text FROM (VALUES {vals}) AS t(url, depth, round, text)"
    )


def _crawl_jar_limit_sql() -> str:
    run = _smoke_oracle_run(jar_limit=6)
    assert all(l["urls_in"] <= 6 for l in run.lineage)
    vals = ", ".join(
        f"({l['round']}, {l['urls_in']}, {l['urls_out']}, {l['bytes_fetched']})"
        for l in run.lineage
    )
    return (
        "SELECT CAST(round AS BIGINT) AS round, "
        "CAST(urls_in AS BIGINT) AS urls_in, "
        "CAST(urls_out AS BIGINT) AS urls_out, "
        "CAST(bytes_fetched AS BIGINT) AS bytes_fetched "
        f"FROM (VALUES {vals}) AS t(round, urls_in, urls_out, bytes_fetched)"
    )


def _crawl_retry_sql() -> str:
    run = _smoke_oracle_run(max_retries=2, with_robots=False)
    vals = ", ".join(
        f"({e['round']}, '{_sq(e['url'])}', '{e['stage']}', '{e['reason']}', "
        f"'{_sq(e['details'])}')"
        for e in run.errors
    )
    return (
        "SELECT CAST(round AS BIGINT) AS round, url, stage, reason, details "
        f"FROM (VALUES {vals}) AS t(round, url, stage, reason, details)"
    )


def _domain_lifecycle_sql() -> str:
    from graven_spark.oracle import domains_oracle

    doms = domains_oracle(_smoke_oracle_run())
    vals = ", ".join(
        f"('{_sq(h)}', '{status}', {start}, "
        f"{'NULL' if end is None else end})"
        for h, (status, start, end) in sorted(doms.items())
    )
    return (
        "SELECT host, status, CAST(start_round AS BIGINT) AS start_round, "
        "CAST(end_round AS BIGINT) AS end_round "
        f"FROM (VALUES {vals}) AS t(host, status, start_round, end_round)"
    )


def _media_features_sql() -> str:
    from graven_spark.sources.multimodal import feature_row, media_rows

    vals = []
    for mid, kind, payload, *_rest in media_rows(64):
        _vec, nb, mean, ent = feature_row(payload)
        vals.append(f"({mid}, '{kind}', {nb}, {mean!r}, {ent!r})")
    return (
        "SELECT CAST(media_id AS BIGINT) AS media_id, kind, "
        "CAST(n_bytes AS BIGINT) AS n_bytes, CAST(byte_mean AS DOUBLE) AS byte_mean, "
        "CAST(byte_entropy AS DOUBLE) AS byte_entropy "
        f"FROM (VALUES {', '.join(vals)}) "
        "AS t(media_id, kind, n_bytes, byte_mean, byte_entropy)"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "anti_join_unseen": q_anti_join_unseen,
        "semi_join_seen": q_semi_join_seen,
        "fetch_join_broadcast": q_fetch_join_broadcast,
        "union_dedup_seen": q_union_dedup_seen,
        "politeness_topk": q_politeness_topk,
        "politeness_bytes": q_politeness_bytes,
        "claim_first": q_claim_first,
        "global_topk": q_global_topk,
        "lineage_rollup": q_lineage_rollup,
        "stage_counters": q_stage_counters,
        "status_case": q_status_case,
        "where_builder": q_where_builder,
        "assoc_dedup": q_assoc_dedup,
        "gav_parse": q_gav_parse,
        "listing_ts_parse": q_listing_ts_parse,
        "json_flatten": q_json_flatten,
        "error_json": q_error_json,
        "prefix_filter": q_prefix_filter,
        "host_extract": q_host_extract,
        "sha_digest": q_sha_digest,
        "tumbling_window": q_tumbling_window,
        "first_en": q_first_en,
        "posexplode_order": q_posexplode_order,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "token_count": q_token_count,
        "fingerprint": q_fingerprint,
        "embed_cosine_topk": q_embed_cosine_topk,
        "embed_ann_lsh": q_embed_ann_lsh,
        "embed_ann_multiprobe": q_embed_ann_multiprobe,
        "dedup_embed_cosine": q_dedup_embed_cosine,
        "corpus_prepare": q_corpus_prepare,
        "dedup_embed_drop": q_dedup_embed_drop,
        "duration_format": q_duration_format,
        "flatten_grype": q_flatten_grype,
        "nvd_lookup": q_nvd_lookup,
        "cwe_page_parse": q_cwe_page_parse,
        "parse_nvd": q_parse_nvd,
        "media_features": q_media_features,
        "crawl_smoke": q_crawl_smoke,
        "crawl_retry": q_crawl_retry,
        "crawl_jar_limit": q_crawl_jar_limit,
        "domain_lifecycle": q_domain_lifecycle,
        "run_pipeline_jars": q_run_pipeline_jars,
        "run_pipeline_assoc": q_run_pipeline_assoc,
        "run_pipeline_cve": q_run_pipeline_cve,
        "run_pipeline_cwe": q_run_pipeline_cwe,
        "run_pipeline_sboms": q_run_pipeline_sboms,
        "run_pipeline_stages": q_run_pipeline_stages,
        "scan_failure_split": q_scan_failure_split,
        "payload_attach": q_payload_attach,
        "robots_parse": q_robots_parse,
        "robots_gate": q_robots_gate,
        "sitemap_parse": q_sitemap_parse,
        "sitemap_seeds": q_sitemap_seeds,
        "robots_delay_budget": q_robots_delay_budget,
        "url_normalize": q_url_normalize,
        "warc_ingest": q_warc_ingest,
        "cdx_parse": q_cdx_parse,
        "cdx_seeds": q_cdx_seeds,
        "dedup_content_extract": q_dedup_content_extract,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

_H32 = "CAST(CAST(concat('0x', substring(md5({x}), 1, 8)) AS UBIGINT) AS BIGINT)"

_SHINGLES = (
    "SELECT doc_id, unnest(list_distinct(list_transform("
    "range(1, greatest(len(string_split(text,' ')) - 2, 1) + 1), "
    "i -> array_to_string((string_split(text,' '))[i:i+2], ' ')))) AS shingle "
    "FROM documents WHERE doc_id < 200"
)


def _minhash_sql() -> str:
    mins = ", ".join(
        "min(%s) AS mh%d" % (_H32.format(x="concat(shingle, '#mh%d')" % i), i)
        for i in range(16)
    )
    bands = []
    for b in range(4):
        cols = ", ".join(f"CAST(mh{b * 4 + j} AS VARCHAR)" for j in range(4))
        bands.append(
            f"SELECT doc_id, {b} AS band, md5(concat_ws('_', {cols})) AS bucket FROM sig"
        )
    banded = " UNION ALL ".join(bands)
    return (
        f"WITH sh AS ({_SHINGLES}), "
        f"sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id), "
        f"banded AS ({banded}) "
        "SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
        "FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket "
        "AND a.doc_id < b.doc_id"
    )


def _simhash_sql() -> str:
    h = _H32.format(x="w")
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}" for b in range(32)
    )
    sim = " + ".join(f"CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END" for b in range(32))
    return (
        "WITH w AS (SELECT doc_id, unnest(string_split(text,' ')) AS w "
        "FROM documents WHERE doc_id < 300), "
        f"hw AS (SELECT doc_id, {h} AS h FROM w), "
        f"agg AS (SELECT doc_id, {sums} FROM hw GROUP BY doc_id) "
        f"SELECT doc_id, {sim} AS simhash FROM agg"
    )


def _ann_sql(multiprobe: bool = False) -> str:
    n_planes = 6
    dim = 64
    def bucket_expr(vec: str) -> str:
        terms = []
        for p in range(n_planes):
            plane = simsearch._hyperplane(dim, p)
            arr = "[" + ", ".join(str(x) for x in plane) + "]"
            terms.append(
                f"CASE WHEN list_dot_product(CAST({vec} AS DOUBLE[]), {arr}) >= 0 "
                f"THEN {1 << p} ELSE 0 END"
            )
        return "(" + " + ".join(terms) + ")"

    if multiprobe:
        # query bucket + all Hamming-1 neighbors: xor of the two bucket ids
        # is 0 or a single set bit
        hamming1 = [0] + [1 << p for p in range(n_planes)]
        cond = (
            f"list_contains({hamming1}, "
            f"xor({bucket_expr('e.embedding')}, {bucket_expr('q.embedding')}))"
        )
    else:
        cond = f"{bucket_expr('e.embedding')} = {bucket_expr('q.embedding')}"
    return (
        "WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0), "
        "cand AS (SELECT e.vec_id, e.embedding, q.embedding AS qv FROM embeddings e, q "
        f"WHERE {cond}) "
        "SELECT vec_id, round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), "
        "CAST(qv AS DOUBLE[])), 4) AS cos_sim FROM cand "
        "ORDER BY cos_sim DESC, vec_id LIMIT 10"
    )


def _near_dup_sql(drop: bool = False) -> str:
    """DuckDB twin of simsearch.embed_near_dup at n_planes=6 / tau=0.3:
    identical md5-derived hyperplanes, identical bucket-equality candidate
    rule, threshold applied to the same round-4 cosine."""
    n_planes = 6
    dim = 64

    def bucket_expr(vec: str) -> str:
        terms = []
        for p in range(n_planes):
            plane = simsearch._hyperplane(dim, p)
            arr = "[" + ", ".join(str(x) for x in plane) + "]"
            terms.append(
                f"CASE WHEN list_dot_product(CAST({vec} AS DOUBLE[]), {arr}) >= 0 "
                f"THEN {1 << p} ELSE 0 END"
            )
        return "(" + " + ".join(terms) + ")"

    pairs = (
        f"WITH b AS (SELECT vec_id, embedding, {bucket_expr('embedding')} AS bkt "
        "FROM embeddings) "
        "SELECT a.vec_id AS id_a, c.vec_id AS id_b, "
        "round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), "
        "CAST(c.embedding AS DOUBLE[])), 4) AS cos_sim "
        "FROM b a JOIN b c ON a.bkt = c.bkt AND a.vec_id < c.vec_id"
    )
    if drop:
        return f"SELECT DISTINCT id_b AS drop_id FROM ({pairs}) WHERE cos_sim >= 0.3"
    return f"SELECT * FROM ({pairs}) WHERE cos_sim >= 0.3"


def _corpus_prepare_sql() -> str:
    """Composition of the already-oracled stage twins: exact-dedup canon set,
    stopword-ratio lang gate, quality gate, near-dup drop list, token
    counts — mirroring textops.corpus_prepare stage for stage."""
    ratio = (
        "round(CAST(len(list_filter(string_split(text,' '), "
        f"w -> w IN ({_STOP_IN}))) AS DOUBLE) "
        "/ greatest(len(string_split(text,' ')), 1), 6)"
    )
    quality = (
        "round(least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0) * "
        "(1 - round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) "
        "/ greatest(length(text), 1), 6)), 6)"
    )
    return (
        "WITH canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)), "
        f"lang_ok AS (SELECT doc_id FROM documents WHERE {ratio} >= 0.05), "
        f"qual_ok AS (SELECT doc_id, {quality} AS quality FROM documents "
        f"WHERE {quality} >= 0.2), "
        f"drops AS ({_near_dup_sql(drop=True)}) "
        "SELECT d.doc_id, q.quality, "
        "CAST(len(string_split(d.text,' ')) AS BIGINT) AS ws_tokens, "
        "CAST(len(regexp_extract_all(d.text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS re_tokens "
        "FROM documents d "
        "JOIN qual_ok q ON q.doc_id = d.doc_id "
        "WHERE d.doc_id IN (SELECT doc_id FROM canon) "
        "AND d.doc_id IN (SELECT doc_id FROM lang_ok) "
        "AND d.doc_id NOT IN (SELECT drop_id FROM drops)"
    )


_STOP_IN = ", ".join(f"'{w}'" for w in _EN)


def oracle_sql() -> dict[str, str]:
    return {
        "anti_join_unseen": (
            "SELECT c_custkey, c_name FROM customer c WHERE NOT EXISTS "
            "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "semi_join_seen": (
            "SELECT s_suppkey, s_name FROM supplier s WHERE EXISTS "
            "(SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)"
        ),
        "fetch_join_broadcast": (
            "SELECT c_mktsegment, count(*) AS n_orders, "
            "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"
        ),
        "union_dedup_seen": (
            "SELECT o_custkey AS key FROM orders UNION SELECT c_custkey AS key FROM customer"
        ),
        "politeness_topk": (
            "SELECT user_id, event_id, rn FROM (SELECT user_id, event_id, "
            "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn "
            "FROM events) WHERE rn <= 3"
        ),
        "politeness_bytes": (
            "WITH fr AS (SELECT CAST(event_id AS BIGINT) AS priority, "
            "CAST(user_id AS VARCHAR) AS host, "
            "CAST(event_id % 97 + 1 AS BIGINT) AS est_bytes FROM events), "
            "c AS (SELECT *, sum(est_bytes) OVER (PARTITION BY host ORDER BY priority "
            "ROWS UNBOUNDED PRECEDING) AS cum, "
            "row_number() OVER (PARTITION BY host ORDER BY priority) AS rn FROM fr) "
            "SELECT host, priority, est_bytes FROM c WHERE cum <= 200 OR rn = 1"
        ),
        "claim_first": (
            "SELECT o_custkey, o_orderkey, o_orderdate FROM (SELECT o_custkey, o_orderkey, "
            "o_orderdate, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, "
            "o_orderkey) AS rn FROM orders) WHERE rn = 1"
        ),
        "global_topk": (
            "SELECT o_orderkey, o_totalprice FROM orders "
            "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"
        ),
        "lineage_rollup": (
            "SELECT l_returnflag, l_linestatus, count(*) AS n_rows, "
            "CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
            "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"
        ),
        "stage_counters": (
            "SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users, "
            "CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value "
            "FROM events GROUP BY event_type"
        ),
        "status_case": (
            "SELECT CASE WHEN o_orderstatus = 'F' THEN 'COMPLETED' "
            "WHEN o_orderstatus = 'O' THEN 'IN_PROGRESS' ELSE 'PENDING' END AS crawl_status, "
            "year(o_orderdate) AS yr, count(*) AS n FROM orders GROUP BY 1, 2"
        ),
        "where_builder": (
            "SELECT event_id, user_id, value FROM events "
            "WHERE event_type = 'click' AND value IS NOT NULL"
        ),
        "assoc_dedup": (
            "SELECT l_partkey, count(*) AS n_supps FROM "
            "(SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) GROUP BY l_partkey"
        ),
        "gav_parse": (
            "WITH d AS (SELECT p_partkey, concat_ws('/', replace(p_type, ' ', '/'), "
            "p_brand, CAST(p_size AS VARCHAR), concat(p_brand, '-', CAST(p_size AS VARCHAR), "
            "'.jar')) AS uri FROM part) "
            "SELECT p_partkey, uri, "
            "array_to_string((string_split(uri,'/'))[1:len(string_split(uri,'/'))-3], '.') AS group_id, "
            "(string_split(uri,'/'))[-3] AS artifact_id, "
            "(string_split(uri,'/'))[-2] AS version, "
            "(string_split(uri,'/'))[-1] AS jar_name FROM d"
        ),
        "listing_ts_parse": (
            "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M') AS ts_str, "
            "strptime(strftime(ts, '%Y-%m-%d %H:%M'), '%Y-%m-%d %H:%M') AS ts_min FROM events"
        ),
        "json_flatten": (
            "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val "
            "FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50"
        ),
        "error_json": (
            "SELECT event_id, concat('{\"event_id\":', event_id, ',\"event_type\":\"', "
            "event_type, '\"}') AS details FROM events WHERE event_id < 100"
        ),
        "prefix_filter": (
            "SELECT lang, count(*) AS n FROM documents WHERE source LIKE 'src1%' GROUP BY lang"
        ),
        "host_extract": (
            "SELECT doc_id, regexp_extract(concat('https://', source, '.example.com/d/', "
            "CAST(doc_id AS VARCHAR)), 'https?://([^/]+)', 1) AS host FROM documents"
        ),
        "sha_digest": (
            "SELECT c_custkey, sha256(c_name) AS digest FROM customer WHERE c_custkey <= 50"
        ),
        "tumbling_window": (
            "SELECT time_bucket(INTERVAL '1 hour', ts) AS win_start, event_type, "
            "count(*) AS n FROM events GROUP BY 1, 2"
        ),
        "first_en": (
            "SELECT source, min(CASE WHEN lang = 'en' THEN doc_id END) AS first_en_doc "
            "FROM documents GROUP BY source"
        ),
        "posexplode_order": (
            "SELECT doc_id, generate_subscripts(l, 1) - 1 AS pos, unnest(l) AS w FROM "
            "(SELECT doc_id, (string_split(text,' '))[1:3] AS l FROM documents)"
        ),
        "dedup_exact": (
            "SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id, "
            "count(*) AS n_dups FROM documents GROUP BY md5(text)"
        ),
        "dedup_ngram_jaccard": (
            # the skew cap mirrors the Spark default: shingles with document
            # frequency > 1000 are dropped before the self-join
            f"WITH sh0 AS ({_SHINGLES}), "
            "sh AS (SELECT * FROM sh0 WHERE shingle NOT IN "
            "(SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 1000)), "
            "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id), "
            "common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common "
            "FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id "
            "GROUP BY a.doc_id, b.doc_id) "
            "SELECT doc_a, doc_b, round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) AS jaccard "
            "FROM common JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b "
            "WHERE round(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 6) >= 0.2"
        ),
        "dedup_minhash_lsh": _minhash_sql(),
        "dedup_simhash": _simhash_sql(),
        "lang_id": (
            "SELECT doc_id, round(CAST(len(list_filter(string_split(text,' '), "
            f"w -> w IN ({_STOP_IN}))) AS DOUBLE) / greatest(len(string_split(text,' ')), 1), 6) "
            "AS stopword_ratio, CASE WHEN round(CAST(len(list_filter(string_split(text,' '), "
            f"w -> w IN ({_STOP_IN}))) AS DOUBLE) / greatest(len(string_split(text,' ')), 1), 6) "
            ">= 0.05 THEN 'en' ELSE 'other' END AS lang_pred FROM documents"
        ),
        "quality_score": (
            "SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m, "
            "CAST(len(string_split(text,' ')) AS BIGINT) AS n_words, "
            "round(CAST(length(text) AS DOUBLE) / greatest(len(string_split(text,' ')), 1), 6) AS mean_word_len, "
            "round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) "
            "/ greatest(length(text), 1), 6) AS punct_ratio, "
            "round(least(CAST(len(string_split(text,' ')) AS DOUBLE) / 100.0, 1.0) * "
            "(1 - round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE) "
            "/ greatest(length(text), 1), 6)), 6) AS quality FROM documents"
        ),
        "token_count": (
            "SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS ws_tokens, "
            "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) "
            "AS re_tokens FROM documents"
        ),
        "fingerprint": (
            "SELECT doc_id, list_min(list_transform(range(1, greatest(length(text) - 7, 1) + 1), "
            f"i -> {_H32.format(x='substring(text, i, 8)')})) AS fp "
            "FROM documents WHERE doc_id < 300"
        ),
        "embed_cosine_topk": (
            "SELECT e.vec_id, round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), "
            "CAST(q.embedding AS DOUBLE[])), 4) AS cos_sim FROM embeddings e, "
            "(SELECT embedding FROM embeddings WHERE vec_id = 0) q "
            "ORDER BY cos_sim DESC, e.vec_id LIMIT 10"
        ),
        "embed_ann_lsh": _ann_sql(),
        "embed_ann_multiprobe": _ann_sql(multiprobe=True),
        "dedup_embed_cosine": _near_dup_sql(),
        "corpus_prepare": _corpus_prepare_sql(),
        "dedup_embed_drop": _near_dup_sql(drop=True),
        "duration_format": (
            "SELECT event_id, printf('%02d:%02d:%02d', "
            "(event_id * 37 % 100000) // 3600, "
            "(event_id * 37 % 100000) % 3600 // 60, "
            "(event_id * 37 % 100000) % 60) AS hms "
            "FROM events WHERE event_id < 500"
        ),
        "flatten_grype": (
            "WITH p AS (SELECT p_partkey AS k FROM part), "
            "r1 AS (SELECT concat('jar', k) AS jar_id, concat('CVE-2024-', k) AS vuln_id, "
            "['Critical','High','Medium','Low'][CAST(k % 4 AS INT) + 1] AS severity, k FROM p), "
            "r2 AS (SELECT concat('jar', k) AS jar_id, concat('CVE-2020-', k % 1000) AS vuln_id, "
            "'Low' AS severity, k FROM p WHERE k % 5 <> 0), "
            "allr AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2) "
            "SELECT jar_id, vuln_id, severity, "
            "strptime(concat('2024-03-', lpad(CAST(k % 28 + 1 AS VARCHAR), 2, '0'), "
            "' 12:00:00'), '%Y-%m-%d %H:%M:%S') AS scan_ts FROM allr"
        ),
        "parse_nvd": (
            "SELECT concat('CVE-2024-', c_custkey) AS cve_id, "
            "concat('desc-', c_custkey) AS description_en, "
            "CAST(c_custkey % 10 AS DOUBLE) + 0.5 AS base_score, "
            "concat('CWE-', c_custkey % 100) AS cwe_list "
            "FROM customer WHERE c_custkey <= 500"
        ),
        "nvd_lookup": (
            "WITH req AS ("
            "SELECT concat('CVE-2024-', p_partkey) AS cve_id FROM part "
            "UNION "
            "SELECT concat('CVE-2020-', p_partkey % 1000) FROM part WHERE p_partkey % 5 <> 0), "
            "ref AS (SELECT concat('CVE-2024-', c_custkey) AS cve_id, "
            "concat('desc-', c_custkey) AS description_en, "
            "CAST(c_custkey % 10 AS DOUBLE) + 0.5 AS base_score, "
            "concat('CWE-', c_custkey % 100) AS cwe_list "
            "FROM customer WHERE c_custkey <= 500) "
            "SELECT r.cve_id, ref.description_en, ref.base_score, ref.cwe_list, "
            "CAST(ref.cve_id IS NOT NULL AS INT) AS found "
            "FROM req r LEFT JOIN ref USING (cve_id)"
        ),
        "cwe_page_parse": (
            "SELECT concat('CWE-', n_nationkey) AS cwe_id, "
            "CASE WHEN n_nationkey % 5 = 0 THEN NULL "
            "ELSE concat('Weak ', n_name) END AS cwe_name, "
            "CASE WHEN n_nationkey % 3 = 0 THEN concat('Abstract for ', n_nationkey) "
            "ELSE concat(' about ', n_nationkey) END AS cwe_description, "
            "concat('https://cwe.mitre.org/data/definitions/', n_nationkey, '.html') AS link "
            "FROM nation"
        ),
        "media_features": _media_features_sql(),
        "crawl_smoke": _crawl_smoke_sql(),
        "crawl_retry": _crawl_retry_sql(),
        "crawl_jar_limit": _crawl_jar_limit_sql(),
        "domain_lifecycle": _domain_lifecycle_sql(),
        "run_pipeline_jars": _run_pipeline_jars_sql(),
        "run_pipeline_assoc": _run_pipeline_assoc_sql(),
        "run_pipeline_cve": _run_pipeline_cve_sql(),
        "run_pipeline_cwe": _run_pipeline_cwe_sql(),
        "run_pipeline_sboms": _run_pipeline_sboms_sql(),
        "run_pipeline_stages": _run_pipeline_stages_sql(),
        "scan_failure_split": _scan_failure_split_sql(),
        "payload_attach": _payload_attach_sql(),
        "robots_parse": _robots_parse_sql(),
        "robots_gate": _robots_gate_sql(),
        "sitemap_parse": _sitemap_parse_sql(),
        "sitemap_seeds": _sitemap_seeds_sql(),
        "robots_delay_budget": _robots_delay_budget_sql(),
        "url_normalize": _url_normalize_sql(),
        "warc_ingest": _warc_ingest_sql(),
        "cdx_parse": _cdx_sql(),
        "cdx_seeds": _cdx_sql(seeds=True),
        "dedup_content_extract": _dedup_content_sql(),
    }
