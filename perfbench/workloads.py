"""The benchmark's workloads: one timed operation each, its correctness
check, and a traced variant that records a span around every engine layer.

The engine is reached only through its public functions: ``crawl``,
``init_run``/``run_round``, ``RoundStore``, ``select_round``,
``with_global_rank``, ``extract_links``, ``build_shards``/``merge_shards``/
``probe`` and ``admit_new``.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass, replace

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graven_spark.core import PRIORITY_STRIDE
from graven_spark.functions.canon import host_of, url_hash
from graven_spark.functions.extract import extract_links
from graven_spark.operators.bloom import BloomSpec, build_shards, merge_shards, probe
from graven_spark.operators.dedup import admit_new
from graven_spark.operators.politeness import gate_robots, select_round
from graven_spark.operators.ranking import with_global_rank
from graven_spark.plans.driver import crawl
from graven_spark.plans.frontier import CrawlConfig, init_run, run_round
from graven_spark.sources.checkpoint import RoundStore

from eventlog import Tracer
from inputs import POLITE_RETRIES, Inputs, ensure_inputs

# bench.py's Bloom spec: 32 shards of 2 Mbit, 7 hashes
BLOOM = BloomSpec(n_buckets=32, bits_per_shard=1 << 21, n_hashes=7)
ROBOTS_SCHEMA = "host string, disallow_prefixes array<string>, crawl_delay_tokens int"
SEEDS_SCHEMA = "seed_rank long, url string"


@dataclass
class Outcome:
    """What one operation produced, checked after the clock stops."""

    urls: int  # URLs admitted (crawl: final seen set; mega-round: admitted)
    digest: int  # order-free digest of that set
    correct: bool


@dataclass
class Traced:
    """A traced operation's outcome plus what the per-layer metrics need."""

    outcome: Outcome
    primary: list[str]  # span names that make up the operation itself
    commit_spans: list[str]  # spans whose SQL writes are checkpoint artifacts
    round_mb: float  # checkpoint MB on disk per committed round
    seen_n: float  # seen-set size the Bloom probes ran against


def _frame(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """A small parquet table as a local DataFrame: no scan job, no Arrow."""
    return spark.createDataFrame(pq.read_table(path).to_pylist(), schema)


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _digest(df: DataFrame, *cols: str) -> tuple[int, int]:
    row = df.agg(F.count("*").alias("n"),
                 F.bit_xor(F.xxhash64(*cols)).alias("d")).first()
    return int(row["n"]), int(row["d"] or 0)


def fp_rate_pred(seen_n: float) -> float:
    """The spec's predicted false-positive rate with ``seen_n`` urls in it."""
    k, m = BLOOM.n_hashes, BLOOM.bits_per_shard
    return (1 - math.exp(-k * seen_n / BLOOM.n_buckets / m)) ** k


def dir_mb(path: str) -> float:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    ) / (1 << 20)


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


# -- layer spans shared by both workloads -----------------------------------
def _select_rank_extract(tr: Tracer, frontier: DataFrame, robots, pages: DataFrame,
                         size_hint: int | None, hint_join) -> DataFrame:
    """politeness → ranking → fetch + extract, each materialized from a
    pinned input under its own span. Returns the pinned fetched frame."""
    with tr.span("politeness.select") as s:
        flagged = select_round(frontier, robots).persist()
        r = flagged.agg(F.count("*").alias("n"),
                        F.sum(F.col("selected").cast("long")).alias("sel")).first()
        s.attrs.update(frontier=int(r["n"]), selected=int(r["sel"] or 0))
    with tr.span("ranking.rank"):
        ranked, _n, pinned = with_global_rank(
            flagged.filter(F.col("selected")).drop("selected"),
            "priority", "fifo_rank", size_hint=size_hint)
        ranked = ranked.persist()
        _noop(ranked)
    with tr.span("extract.fetch_extract") as s:
        fetched = (
            pages.join(hint_join(ranked), "url", "inner")
            .withColumn("_bytes", F.length("html").cast("long"))
            .withColumn("ext", extract_links(F.col("html")))
            .drop("html")
            .persist()
        )
        r = fetched.agg(F.sum(F.size("ext.links")).alias("links"),
                        F.sum("_bytes").alias("b")).first()
        s.attrs.update(links=int(r["links"] or 0), html_bytes=int(r["b"] or 0))
    for df in (flagged, pinned, ranked):
        df.unpersist()
    return fetched


def candidate_frame(fetched: DataFrame, priority_base: int) -> DataFrame:
    """Link explode + absolutize + priority arithmetic (frontier.py's)."""
    links = fetched.select(
        F.col("url").alias("parent_url"), "fifo_rank",
        F.posexplode("ext.links").alias("discovery_idx", "link"),
    )
    return links.select(
        F.concat("parent_url", "link.href").alias("url"),
        (F.lit(priority_base) + F.col("fifo_rank") * PRIORITY_STRIDE
         + F.col("discovery_idx")).alias("priority"),
        F.col("link.is_dir").alias("is_dir"),
    ).withColumn("host", host_of(F.col("url")))


def _candidates(tr: Tracer, fetched: DataFrame, priority_base: int, robots) -> DataFrame:
    """The robots-gated candidates, pinned."""
    cand = gate_robots(candidate_frame(fetched, priority_base), robots).persist()
    with tr.span("candidates"):
        cand.count()
    return cand


def _probe_admit(tr: Tracer, cand: DataFrame, seen_parts: list[DataFrame],
                 shards: DataFrame, seen_all: DataFrame) -> tuple[DataFrame, int]:
    """Bloom probe, the exact in-seen count it is scored against, and
    admission, each under its own span. Returns the pinned admitted frame
    and the seen-set size."""
    bcs: list = []
    with tr.span("bloom.probe") as s:
        probed = probe(cand, shards, BLOOM, track=bcs).persist()
        r = probed.agg(F.count("*").alias("n"),
                       F.sum(F.col("maybe_seen").cast("long")).alias("pos")).first()
        s.attrs.update(candidates=int(r["n"]), positives=int(r["pos"] or 0))
    n_cand = s.attrs["candidates"]
    with tr.span("bloom.fp_check") as s:
        s.attrs["in_seen"] = cand.join(seen_all.select("url"), "url", "left_semi").count()
        seen_n = seen_all.count()
    with tr.span("dedup.admit") as s:
        new = admit_new(cand, seen_parts, shards, BLOOM, track=bcs, dedup_first=True).persist()
        s.attrs.update(candidates=n_cand, admitted=new.count())
    probed.unpersist()
    for bc in bcs:
        bc.destroy()
    return new, seen_n


def _build_merge(tr: Tracer, new: DataFrame, shards: DataFrame) -> DataFrame:
    """What a commit does with the admitted urls: a shard delta, merged into
    the current shards. Returns the pinned delta."""
    with tr.span("bloom.build"):
        delta = build_shards(new, BLOOM).persist()
        _noop(delta)
    with tr.span("bloom.merge"):
        _noop(merge_shards(shards, delta))
    return delta


# -- crawl_bfs, crawl_polite ----------------------------------------------------
class CrawlBfs:
    """One full ``crawl()`` from the seeds, configured as bench.py's
    full_crawl (Bloom on, no robots table, so politeness is a no-op), except
    that the seen set compacts every 2 committed rounds instead of 4: the
    graph is 3 depths deep, committed as rounds 2 and 3, and compacts once."""

    kind = "crawl"
    cfg = CrawlConfig(use_bloom=True, bloom=BLOOM, compact_every=2, batch_threshold=512)

    def inputs(self, cache: str, scale: str, seed: int) -> Inputs:
        return ensure_inputs(cache, self.kind, scale, seed)

    def prepare(self, spark: SparkSession, inp: Inputs, work: str) -> None:
        """Spark-built inputs: none for a crawl."""

    def register(self, spark: SparkSession, inp: Inputs) -> dict:
        return {"seeds": _frame(spark, inp.seeds, SEEDS_SCHEMA), "robots": None}

    def _store(self, state: str) -> RoundStore:
        return RoundStore(state, compact_every=self.cfg.compact_every,
                          seen_buckets=self.cfg.seen_buckets)

    def run(self, spark: SparkSession, inp: Inputs, reg: dict, state: str):
        return crawl(spark, inp.pages, reg["seeds"], reg["robots"], state, self.cfg)

    def warm(self, spark: SparkSession, inp: Inputs, reg: dict, state: str,
             traced: bool) -> None:
        """Untraced: none, so the timed crawl starts in a fresh JVM, as a CLI
        crawl does. Traced: one discarded crawl, so that the untraced crawl
        and the traced one that ``trace.overhead_frac`` compares both run
        warm."""
        if traced:
            self.run(spark, inp, reg, state)

    def check(self, spark: SparkSession, inp: Inputs, out) -> Outcome:
        return self._check(spark, out.store, out.final_round, inp)

    def _check(self, spark: SparkSession, store: RoundStore, final: int, inp: Inputs) -> Outcome:
        """Seen set, results count and every committed round's frontier
        count against the oracle crawl."""
        ans = inp.answer
        seen_n, digest = _digest(store.read_seen(spark, final), "url")
        counts = {k: store.meta(k).frontier_count for k in store.committed_rounds()}
        expected = ans["frontier_counts"]
        ok = (
            final == len(expected)
            and counts[final] == 0
            and all(counts[k] == expected[k] for k in counts if k < final)
            and seen_n == ans["seen_n"] and digest == ans["seen_digest"]
            and store.read_results(spark, final).count() == ans["results_n"]
        )
        return Outcome(seen_n, digest, ok)

    def traced(self, spark: SparkSession, inp: Inputs, reg: dict, state: str,
               tr: Tracer) -> Traced:
        """``crawl()``'s loop (driver.py) driven step by step -- one span per
        committed round and per compaction check -- then every layer replayed
        on each committed round's own frontier, seen set and shards."""
        cfg, robots, store = self.cfg, reg["robots"], self._store(state)
        with tr.span("init_run"):
            meta = init_run(spark, store, reg["seeds"], robots, cfg)
        seq = store.log_run_start(cfg.run_id, 0)
        while meta.frontier_count > 0 and meta.round < cfg.max_rounds:
            with tr.span("round") as s:
                meta = run_round(spark, store, inp.pages, robots, cfg, meta.round)
                s.attrs["depth_after"] = meta.round
            with tr.span("checkpoint.compact") as s:
                s.attrs["compacted"] = store.maybe_compact_seen(spark, meta.round)
        store.log_run_end(seq, meta.round)
        outcome = self._check(spark, store, meta.round, inp)

        pages = spark.read.parquet(inp.pages).select("url", "html")
        seen_sizes = []
        replayed = [k for k in store.committed_rounds() if store.meta(k).frontier_count]
        for k in replayed:
            m = store.meta(k)
            fetched = _select_rank_extract(tr, store.read_frontier(spark, k), robots,
                                           pages, m.frontier_count, F.broadcast)
            cand = _candidates(tr, fetched, m.priority_base, robots)
            parts = [store.read_seen_base(spark, k), store.read_seen_deltas(spark, k)]
            shards = store.read_shards(spark, k)
            new, seen_n = _probe_admit(tr, cand, [p for p in parts if p is not None],
                                       shards, store.read_seen(spark, k))
            seen_sizes.append(seen_n)
            for df in (fetched, cand, new, _build_merge(tr, new, shards)):
                df.unpersist()
        committed = store.committed_rounds()
        return Traced(
            outcome, primary=["init_run", "round", "checkpoint.compact"],
            commit_spans=["round"],
            round_mb=sum(dir_mb(store.round_dir(k)) for k in committed) / len(committed),
            seen_n=sum(seen_sizes) / max(1, len(seen_sizes)),
        )


class CrawlPolite(CrawlBfs):
    """The same crawl with a robots table that binds: a small per-round
    budget on the skewed host, disallowed subtrees on some hosts, and failed
    directory fetches requeued once."""

    kind = "polite"
    cfg = replace(CrawlBfs.cfg, max_retries=POLITE_RETRIES)

    def register(self, spark: SparkSession, inp: Inputs) -> dict:
        return {"seeds": _frame(spark, inp.seeds, SEEDS_SCHEMA),
                "robots": _frame(spark, inp.robots, ROBOTS_SCHEMA)}


# -- schedule_mega ------------------------------------------------------------
class ScheduleMega:
    """Repeated single mega-rounds: every directory page scheduled at once
    against a pre-seeded seen set (~30% of urls) and its Bloom shards, with a
    robots budget that binds on the skewed host."""

    kind = "mega"

    def inputs(self, cache: str, scale: str, seed: int) -> Inputs:
        return ensure_inputs(cache, self.kind, scale, seed)

    def prepare(self, spark: SparkSession, inp: Inputs, work: str) -> None:
        """The pre-seeded seen set's Bloom shards, built with the engine in
        every run, so each run's warm-up starts from the same JVM state."""
        self.shards = os.path.join(work, "shards")
        build_shards(spark.read.parquet(inp.seen), BLOOM).write.parquet(self.shards)

    def register(self, spark: SparkSession, inp: Inputs) -> dict:
        return {"seen": spark.read.parquet(inp.seen),
                "shards": spark.read.parquet(self.shards),
                "robots": _frame(spark, inp.robots, ROBOTS_SCHEMA)}

    @staticmethod
    def frontier(pages: DataFrame) -> DataFrame:
        return pages.select("url").filter(F.col("url").endswith("/")).select(
            "url",
            host_of(F.col("url")).alias("host"),
            F.lit(0).alias("depth"),
            url_hash(F.col("url")).alias("priority"),
            F.lit(None).cast("string").alias("parent_url"),
            F.lit(0).alias("discovery_idx"),
            F.lit(0).alias("retry_count"),
        )

    @staticmethod
    def check(spark: SparkSession, inp: Inputs, res: tuple[int, int]) -> Outcome:
        (n, digest), ans = res, inp.answer
        return Outcome(n, digest, n == ans["admitted_n"] and digest == ans["admitted_digest"])

    def run(self, spark: SparkSession, inp: Inputs, reg: dict, state: str) -> tuple[int, int]:
        """bench.py's schedule_job, with the admitted set digested in the
        same action that counts it."""
        pages = spark.read.parquet(inp.pages)
        flagged = select_round(self.frontier(pages), reg["robots"])
        ranked, _n, pinned = with_global_rank(
            flagged.filter(F.col("selected")).drop("selected"), "priority", "fifo_rank")
        fetched = (
            pages.select("url", "html")
            .join(ranked.hint("shuffle_hash"), "url", "inner")
            .withColumn("ext", extract_links(F.col("html")))
            .drop("html")
        )
        cand = candidate_frame(fetched, 0)
        bcs: list = []
        new = admit_new(cand, reg["seen"], reg["shards"], BLOOM, track=bcs, dedup_first=True)
        n, digest = _digest(new, "url", "priority")
        pinned.unpersist()
        for bc in bcs:
            bc.destroy()
        return n, digest

    def warm(self, spark: SparkSession, inp: Inputs, reg: dict, state: str,
             traced: bool) -> None:
        """One mega-round, so the timed ones run on a warm JVM."""
        self.run(spark, inp, reg, state)

    def traced(self, spark: SparkSession, inp: Inputs, reg: dict, state: str,
               tr: Tracer) -> Traced:
        """The mega-round one operator at a time, each on a pinned input.
        Nothing is committed, so the checkpoint and Bloom build/merge
        layers read 0 here."""
        pages = spark.read.parquet(inp.pages)
        seen, shards = reg["seen"], reg["shards"]
        with tr.span("round") as s:
            fetched = _select_rank_extract(tr, self.frontier(pages), reg["robots"],
                                           pages.select("url", "html"), None,
                                           lambda df: df.hint("shuffle_hash"))
            cand = _candidates(tr, fetched, 0, None)
            new, seen_n = _probe_admit(tr, cand, [seen], shards, seen)
            n, digest = _digest(new, "url", "priority")
            s.attrs["depth_after"] = 1
        for df in (fetched, cand, new):
            df.unpersist()
        return Traced(self.check(spark, inp, (n, digest)), primary=["round"],
                      commit_spans=[], round_mb=0.0, seen_n=seen_n)


WORKLOADS = {"crawl_bfs": CrawlBfs, "crawl_polite": CrawlPolite,
             "schedule_mega": ScheduleMega}
