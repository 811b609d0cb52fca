"""Iterative crawl driver: the round loop, seeding, resume, re-process
modes, and output handles (SURVEY.md §3.1-3.3).

The loop condition is frontier-emptiness, exactly the reference's
empty-queue protocol (/root/reference/graven/worker/crawler.py:130-163);
resume = continue from the highest committed round (the reference's analog:
status-reset re-claim, /root/reference/graven/db/graven_database.py:159-165,
/root/reference/graven/worker/worker.py:56-58). A killed in-flight round is
simply re-run — every round write is idempotent (mode=overwrite) and the
commit marker is written last, so replay cannot double-count.

Re-process modes (applied as one extra committed round transition on resume):
- ``cfg.update_domains`` — the reference's ``--update-domain`` re-open of
  COMPLETED domains (/root/reference/graven/worker/crawler.py:172-184,
  graven_database.py:103-115): purge the hosts' URLs from the seen set
  (materialized as a fresh bucketed seen_full — the LSM makes deletion a
  compaction, not an in-place mutation), rebuild the Bloom shards from the
  purged set, re-seed the hosts' roots, stamp the domains IN_PROGRESS.
- ``cfg.update_url_prefix`` — the reference's ``--update-jar`` re-process
  of already-seen artifacts (crawler.py:141-170): re-fetch + re-extract
  every recorded result url under the prefix; the store's results reader
  keeps only the newest round's row per url.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.canon import host_of
from ..functions.extract import extract_text
from ..operators.bloom import build_shards
from ..sources.checkpoint import RoundMeta, RoundStore, error_rows
from .frontier import (
    CrawlConfig, _advance, _Pending, _seed, fold_domains, round_meta, seed_frontier,
)


@dataclass
class CrawlOutputs:
    store: RoundStore
    final_round: int  # index of the last committed state dir

    def seen(self, spark: SparkSession) -> DataFrame:
        return self.store.read_seen(spark, self.final_round)

    def results(self, spark: SparkSession) -> DataFrame:
        return self.store.read_results(spark, self.final_round)

    def errors(self, spark: SparkSession) -> DataFrame:
        return self.store.read_errors(spark, self.final_round)

    def lineage(self, spark: SparkSession) -> DataFrame:
        return self.store.read_lineage(spark, self.final_round)

    def domains(self, spark: SparkSession) -> DataFrame:
        return self.store.read_domains(spark, self.final_round)

    def frontier(self, spark: SparkSession, k: int) -> DataFrame:
        return self.store.read_frontier(spark, k)

    def run_log(self, spark: SparkSession) -> DataFrame:
        return self.store.read_run_log(spark)


def _reopen_domains(
    spark: SparkSession,
    store: RoundStore,
    k: int,
    seeds: DataFrame,
    robots: DataFrame | None,
    cfg: CrawlConfig,
) -> RoundMeta:
    """One committed round transition k → k+1 that re-opens
    ``cfg.update_domains``: purged seen base + rebuilt shards + re-seeded
    roots + IN_PROGRESS domain stamps. Re-seeding takes the hosts' rows of
    the same ``seed_frontier`` as init_run — a blocked, duplicated or
    un-normalized seed must not slip in through the update path.

    The host set is a DATAFRAME join, never a collected list / IN-literal:
    ``update_domains == "*"`` (the ``-u`` flag) reads the recorded domains
    table; an explicit ``--update-domain`` list becomes a tiny broadcast
    frame. Either way the seen purge is an anti-join — at a multi-million-
    host 100× crawl neither the driver memory nor the plan size grows with
    the host count."""
    meta = store.meta(k)
    store.clean_uncommitted_above(k)
    if cfg.update_domains == "*":
        # every recorded host (reference cli_parser.py:66-71 -u semantics);
        # host cardinality ~ domains table — AQE picks the join strategy
        hosts_df = store.read_domains(spark, k).select("host")
    else:
        hosts_df = F.broadcast(
            spark.createDataFrame(
                [(h,) for h in cfg.update_domains], "host string"
            )
        )
    reseed = seed_frontier(seeds, robots, cfg).join(hosts_df, "host", "left_semi")
    purged = (
        store.read_seen(spark, k)
        .withColumn("host", host_of(F.col("url")))
        .join(hosts_df, "host", "left_anti")
        .drop("host")
    )
    seen_next = purged.unionByName(reseed.select("url"))
    next_frontier = store.read_frontier(spark, k).unionByName(reseed)
    store.mark_updated()  # the re-crawl re-emits result rows for purged urls
    # a re-seeded host folds as a new one — start k+1, IN_PROGRESS — also
    # when it has no prior domain row
    kept = store.read_domains(spark, k).join(reseed.select("host"), "host", "left_anti")
    domains = fold_domains(kept, [(k + 1, next_frontier)])
    artifacts = {"frontier": next_frontier, "seen_full": seen_next, "domains": domains}
    if cfg.use_bloom:
        artifacts["shards"] = build_shards(seen_next, cfg.bloom)
    next_meta = round_meta(cfg, k + 1, meta.priority_base, next_frontier.count())
    store.commit(k + 1, next_meta, artifacts)
    return next_meta


def _update_urls(
    spark: SparkSession,
    store: RoundStore,
    k: int,
    pages_path: str,
    cfg: CrawlConfig,
) -> RoundMeta:
    """One committed round transition k → k+1 re-processing every recorded
    result url under ``cfg.update_url_prefix`` (re-fetch + re-extract; the
    url's depth/publish_ts are carried from the prior row, round is
    re-stamped — read_results keeps the newest row per url). Seen and the
    Bloom filter are untouched: round k+1 carries round k's meta forward,
    so the next round uses the filter only under the spec that built it."""
    meta = store.meta(k)
    store.clean_uncommitted_above(k)
    targets = (
        store.read_results(spark, k)
        .filter(F.col("url").startswith(cfg.update_url_prefix))
        .select("url", "depth", "publish_ts")
    )
    # no broadcast hint: the prefix can match an unbounded share of results
    # (unlike the budget-bounded round sets) — AQE broadcasts iff small
    pages = spark.read.parquet(pages_path).select(
        "url", "warc_ts", "html", "lang"
    ).withColumn("_hit", F.lit(True))
    joined = targets.join(pages, "url", "left")
    refreshed = joined.filter(F.col("_hit").isNotNull()).select(
        "url",
        "warc_ts",
        extract_text(F.col("html")).alias("text"),
        "lang",
        "depth",
        F.lit(k + 1).alias("round"),
        "publish_ts",
    )
    # a recorded result url gone from pages re-fetches as a failure: log it
    # (the reference logs re-fetch failures too, crawler.py:119-125) instead
    # of silently keeping the stale result row without trace
    refetch_failed = error_rows(
        joined.filter(F.col("_hit").isNull()), k + 1, "crawler", "fetch_failed",
        F.lit("update_jar").alias("stage_ctx"),
        F.lit(cfg.update_url_prefix).alias("prefix"),
    )
    store.mark_updated()
    next_meta = replace(meta, round=k + 1)
    store.commit(k + 1, next_meta, {
        "frontier": store.read_frontier(spark, k),
        "results_delta": refreshed,
        "errors_delta": refetch_failed,
        "domains": store.read_domains(spark, k),
    })
    return next_meta


def crawl(
    spark: SparkSession,
    pages_path: str,
    seeds: DataFrame,
    robots: DataFrame | None,
    state_dir: str,
    cfg: CrawlConfig | None = None,
    tool_meta: dict | None = None,
) -> CrawlOutputs:
    """Run (or resume) a crawl to completion; returns output handles.
    ``tool_meta``: run_log scanner-metadata columns (syft_version /
    grype_version / grype_db_source, /root/reference/ddl/0_run_log.sql)."""
    cfg = cfg or CrawlConfig()
    store = RoundStore(state_dir, compact_every=cfg.compact_every,
                       seen_buckets=cfg.seen_buckets)

    # run_log bracket (reference log_run_start/log_run_end,
    # graven_database.py:353-377): opening also closes any dangling prior
    # run as KILLED — the crash-safe analog of the reference's UPDATE. It
    # opens before any commit is in flight, so it reads a settled store.
    k = store.latest_round()
    src: int | _Pending
    if k is None:
        seq = store.log_run_start(cfg.run_id, 0, tool_meta=tool_meta)
        src = _seed(spark, store, seeds, robots, cfg)
        meta = src.meta
    else:
        meta = store.meta(k)
        if cfg.update_domains:
            meta = _reopen_domains(spark, store, k, seeds, robots, cfg)
        if cfg.update_url_prefix is not None:  # "" = every url (--update)
            meta = _update_urls(spark, store, meta.round, pages_path, cfg)
        seq = store.log_run_start(cfg.run_id, meta.round, tool_meta=tool_meta)
        src = meta.round
    # the pipeline: each transition runs its depths while its predecessor's
    # commit writes, then launches its own (frontier.py ``_advance``)
    try:
        while meta.frontier_count > 0 and meta.round < cfg.max_rounds:
            src = _advance(spark, store, pages_path, robots, cfg, src)
            meta = src.meta
        if isinstance(src, _Pending):
            src.join()
    finally:
        # no commit write outlives crawl(), also when a round raised
        if isinstance(src, _Pending):
            src.wait()
    store.log_run_end(seq, meta.round)
    return CrawlOutputs(store=store, final_round=meta.round)
