"""One crawl round as a single declarative Spark job (SURVEY.md §3.1):

    frontier_k → politeness select (token buckets) → global FIFO rank
      → fetch join against pages (broadcast the budget-bounded round set)
      → extract links (JVM regex) → absolutize → batch dedup (first
        occurrence) → robots gate → Bloom-conditioned anti-join vs seen
      → split: dirs → frontier_{k+1} ∪ deferred ∪ retries ; leaves →
        fetch join → extract text (JVM regex) → results
      → seen MERGE (append delta; at compaction the base and its Bloom
        filter), lineage rows, domain lifecycle rows, atomic commit.

This replaces the reference's six-thread claim-check pipeline
(/root/reference/graven/worker/pipeline_builder.py:124-224) with
deterministic round membership — no mutable claim state at all.

Scale notes (explicitly engineered, SURVEY.md §4.2):
- the round fetch set is budget-bounded ⇒ it is always the broadcast side of
  the joins against the huge ``pages`` table and against its own derived
  url lists (dead-link detection);
- candidate dedup/admission shuffles hash on url (pmod(xxhash64)) — the salt
  that kills host skew, since one host's URLs spread uniformly;
- the seen set is an LSM: the admission anti-join probes the bucketed,
  url-sorted ``seen_full`` base with NO Exchange and NO Sort on the seen
  side (checkpoint.py), then the small post-compaction deltas (candidates
  are already url-partitioned by then — only the delta side moves);
- ``seen`` is only ever read with column pruning (url); the Bloom verdict
  is a residual condition of the anti-join, so every candidate still meets
  the seen side;
- each depth materializes once, by an eager localCheckpoint, which
  truncates the iterative plan: it stays O(1) per depth whether the next
  depth reads it in memory or from the committed round's parquet. The
  depth's counts are observed on that one action, not counted by others;
- the crawl loop is a two-stage pipeline: round k's commit writes run on a
  background thread while round k+1's depths run from round k's in-memory
  frontier (see ``_advance``). Every persisted handle, the Bloom shards
  included, is released once its transition's commit is on disk (nothing
  accumulates over a long crawl).

Retry/requeue (U4, reference /root/reference/graven/worker/generator.py:71-76
+ scanner.py:80-85): a selected directory URL whose fetch fails re-enters
the next round's frontier with ``retry_count + 1`` until
``cfg.max_retries`` is exhausted; every failed attempt is recorded as an
error row (the reference logs each failure too). Leaf download failures are
terminal (the reference retries those inside its HTTP adapter, not via the
queue).
"""

from __future__ import annotations

import threading
from dataclasses import asdict, dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..core import LISTING_TS_SPARK_FORMAT, PRIORITY_STRIDE, SEED_PRIORITY_BASE
from ..functions.canon import canonicalize, host_of
from ..functions.extract import extract_links, extract_text
from ..operators.bloom import BloomSpec, build_shards
from ..operators.dedup import admit_new, first_occurrence
from ..operators.politeness import DEFAULT_BUDGET, gate_robots, select_round
from ..operators.ranking import with_global_rank
from ..sources.checkpoint import SEEN_BUCKETS_DEFAULT, RoundMeta, RoundStore, error_rows

FRONTIER_COLS = [
    "url", "host", "depth", "priority", "parent_url", "discovery_idx", "retry_count",
]

# Frontier-size-adaptive round batching (SURVEY.md §7.4.5): a batched
# transition runs at most this many logical depths in memory before its one
# commit (``CrawlConfig.batch_threshold`` turns batching on).
MAX_BATCH_ROUNDS = 16


@dataclass
class CrawlConfig:
    run_id: str = "run0"
    use_bloom: bool = True
    bloom: BloomSpec = field(default_factory=BloomSpec)
    default_budget: int = DEFAULT_BUDGET
    compact_every: int = 8
    max_rounds: int = 1000
    max_retries: int = 0  # U4: failed dir fetches requeue up to this many times
    # --jar-limit analog (T3; reference downloader.py:60,188-195 semaphore
    # capping jars in flight): global per-round fetch cap applied AFTER the
    # global FIFO rank — the first jar_limit URLs in priority order fetch,
    # the rest defer to the next round with their priorities intact (so the
    # deferred set re-ranks ahead of newer discoveries, exactly the
    # reference's "waiting on the semaphore" queue position). None = off.
    jar_limit: int | None = None
    # RFC robots Crawl-delay → per-host round budget: one round models this
    # many seconds of wall time (None = Crawl-delay lines are inert).
    delay_window_s: float | None = None
    # RFC 3986 syntactic normalization (functions/urlnorm.py) applied to
    # seeds and discovered URLs BEFORE the seen probe, collapsing aliases
    # like /a/../b vs /b into one frontier row. Off by default: the
    # reference's concat absolutization does no normalization, so replay
    # parity requires the raw strings.
    normalize_urls: bool = False
    seen_buckets: int = SEEN_BUCKETS_DEFAULT
    # Frontier-size-adaptive round batching (SURVEY.md §7.4.5): when the
    # frontier holds fewer than batch_threshold rows, up to MAX_BATCH_ROUNDS
    # logical depths are processed IN MEMORY before one commit — deep,
    # narrow crawl tails (chain graphs, retry dribbles) stop paying
    # per-depth commit overhead. 0 = off (one commit per depth). Logical
    # round stamps, priorities and lineage are preserved exactly; only the
    # per-depth frontier *snapshots* are skipped.
    batch_threshold: int = 0
    # --update-domain analog: hosts to purge from seen + re-seed on resume.
    # The sentinel "*" (the -u/--update CLI flag) re-opens EVERY recorded
    # host by joining against the domains table — never a collected list,
    # so a multi-million-host crawl state stays off the driver.
    update_domains: list[str] | str = field(default_factory=list)
    # --update-jar analog: re-fetch+re-extract seen leaf urls with this prefix.
    update_url_prefix: str | None = None

    def __post_init__(self) -> None:
        # reject before anything is committed: init_run writes round 0
        if self.jar_limit is not None and self.jar_limit < 1:
            raise ValueError(
                "jar_limit must be >= 1 — a cap of 0 defers every selected URL "
                "forever (no round can make progress)"
            )
        if self.seen_buckets < 1:
            raise ValueError(
                "seen_buckets must be >= 1 — the first compaction writes the "
                "seen base in that many buckets"
            )
        if self.default_budget < 1:
            raise ValueError(
                "default_budget must be >= 1 — a host without a robots row "
                "would get no fetch in any round"
            )
        if isinstance(self.update_domains, str) and self.update_domains != "*":
            # a bare host string would otherwise iterate per character in
            # _reopen_domains
            raise ValueError(
                f"update_domains must be a list of hosts or '*', got the "
                f"string {self.update_domains!r}"
            )


def round_meta(
    cfg: CrawlConfig, k: int, priority_base: int, frontier_count: int
) -> RoundMeta:
    """Meta for a committed round whose Bloom filter (if any) is built with
    ``cfg.bloom`` — the set a seen base commit stores beside it, and the
    delta blocks ``read_shards`` builds under this stamp. A transition that
    writes no seen rows carries its predecessor's meta forward instead, so
    the stamp always describes the seen state on disk."""
    return RoundMeta(
        round=k,
        priority_base=priority_base,
        frontier_count=frontier_count,
        seen_buckets=cfg.seen_buckets,
        bloom=asdict(cfg.bloom) if cfg.use_bloom else None,
    )


def fold_domains(
    prev: DataFrame, frontiers: list[tuple[int, DataFrame]]
) -> DataFrame:
    """Domain lifecycle fold (reference crawl_start/crawl_end stamps +
    COMPLETED gate, /root/reference/graven/db/graven_database.py:188-210):
    the domains table ``prev`` after the consecutive ``(round, frontier)``
    pairs, oldest first. A host is IN_PROGRESS while it has frontier rows;
    its first absence stamps COMPLETED/end_round; re-discovery re-opens it.

    One tagged union + one groupBy(host) for all the pairs: ``prev`` holds
    at most one row per host, so max() recovers its fields; a new host
    starts at its first presence, a host that left ends at its last
    presence + 1, and one in no listed frontier keeps ``prev``'s end (the
    first listed round if it was open)."""
    no_int = F.lit(None).cast("int")
    u = prev.select("host", "start_round", "end_round", no_int.alias("_r"))
    for r, frontier in frontiers:
        u = u.unionByName(frontier.select(
            "host", no_int.alias("start_round"), no_int.alias("end_round"),
            F.lit(r).alias("_r"),
        ))
    agg = u.groupBy("host").agg(
        F.min("_r").alias("_first"),
        F.max("_r").alias("_last"),
        F.max("start_round").alias("_start"),
        F.max("end_round").alias("_end"),
    )
    present = F.col("_last") == frontiers[-1][0]
    return agg.select(
        "host",
        F.when(present, "IN_PROGRESS").otherwise("COMPLETED").alias("status"),
        F.coalesce("_start", "_first").alias("start_round"),
        F.when(present, no_int).otherwise(
            F.coalesce(F.col("_last") + 1, "_end", F.lit(frontiers[0][0]))
        ).alias("end_round"),
    )


def seed_frontier(
    seeds: DataFrame, robots: DataFrame | None, cfg: CrawlConfig
) -> DataFrame:
    """Seed rows as depth-0 frontier rows: canonicalized (and normalized when
    ``cfg.normalize_urls``), robots-gated, one row per url at its best seed
    rank. Both the initial seeding and the ``--update-domain`` re-seed build
    on this, so a re-opened host gets the same root rows it started with."""
    seed_url = canonicalize(F.col("url"))
    if cfg.normalize_urls:
        from ..functions.urlnorm import normalize_url

        seed_url = normalize_url(seed_url)
    cand = (
        seeds.select(
            seed_url.alias("url"),
            F.col("seed_rank").cast("long").alias("priority"),
        )
        .withColumn("host", host_of(F.col("url")))
        .withColumn("depth", F.lit(0))
        .withColumn("parent_url", F.lit(None).cast("string"))
        .withColumn("discovery_idx", F.col("priority").cast("int"))
        .withColumn("retry_count", F.lit(0))
    )
    return first_occurrence(gate_robots(cand, robots)).select(*FRONTIER_COLS)


def _checkpoint_counting(
    df: DataFrame, **conds: Column
) -> tuple[DataFrame, dict[str, int]]:
    """``df`` materialized by one eager localCheckpoint, and for each named
    condition the number of its rows that meet it — observed on that same
    action, so counting costs no job of its own."""
    obs = Observation()
    counts = [F.count(F.when(c, True)).alias(name) for name, c in conds.items()]
    cp = df.observe(obs, *counts).localCheckpoint(eager=True)
    return cp, obs.get


class _Pending:
    """A committed transition whose commit was launched: round
    ``meta.round``'s artifacts are written on a background thread while the
    next transition builds on ``frontier`` and ``admitted`` in memory.

    ``disk_k`` is the newest round fully on disk when the commit launched
    (None for the seed round): round ``meta.round``'s seen set is the one at
    ``disk_k`` plus ``admitted``. ``persisted`` are the frames the commit
    reads; they are freed once it is done."""

    def __init__(self, store: RoundStore, meta: RoundMeta, artifacts: dict,
                 disk_k: int | None, frontier: DataFrame, admitted: DataFrame,
                 persisted: list) -> None:
        self.meta, self.disk_k = meta, disk_k
        self.frontier, self.admitted = frontier, admitted
        self._persisted = persisted
        self._error: BaseException | None = None

        def write() -> None:
            try:
                store.commit(meta.round, meta, artifacts)
            except BaseException as e:  # re-raised by join()
                self._error = e

        self._thread = threading.Thread(
            target=write, name=f"graven-commit-{meta.round:06d}", daemon=True)
        self._thread.start()

    def wait(self) -> None:
        """Block until the commit thread ends; free the frames it read."""
        self._thread.join()
        for df in self._persisted:
            df.unpersist()
        self._persisted = []

    def join(self) -> RoundMeta:
        """Wait for the commit: the round's meta once it is on disk, or the
        commit's failure re-raised (the round then has no ``_COMMIT``)."""
        self.wait()
        if self._error is not None:
            raise self._error
        return self.meta


def _seed(
    spark: SparkSession,
    store: RoundStore,
    seeds: DataFrame,
    robots: DataFrame | None,
    cfg: CrawlConfig,
) -> _Pending:
    """Seed admission → round 0 state, its commit launched (reference:
    crawler.py:189-203; seed file order is the inter-root priority,
    cli_parser.py:246-259). The seeded frontier is checkpointed once, so
    every artifact of the commit derives from the same rows, and its count
    is observed on that checkpoint."""
    store.clean_uncommitted(0)
    frontier0, n = _checkpoint_counting(
        seed_frontier(seeds, robots, cfg), rows=F.lit(True))
    admitted = frontier0.select("url")
    artifacts = {
        "frontier": frontier0,
        "seen_delta": admitted,
        "domains": fold_domains(store.read_domains(spark, 0), [(0, frontier0)]),
    }
    meta = round_meta(cfg, 0, SEED_PRIORITY_BASE, n["rows"])
    return _Pending(store, meta, artifacts, None, frontier0, admitted, [])


def init_run(
    spark: SparkSession,
    store: RoundStore,
    seeds: DataFrame,
    robots: DataFrame | None,
    cfg: CrawlConfig,
) -> RoundMeta:
    """Seed the crawl: round 0's meta, returned once round 0 is on disk."""
    return _seed(spark, store, seeds, robots, cfg).join()


@dataclass
class _RoundFlow:
    """One logical depth's outputs, all still in memory (next_frontier and
    new are filters over the depth's checkpoint; the rest derive from it and
    from the persisted parents)."""

    next_frontier: DataFrame
    new: DataFrame
    results: DataFrame
    errors: DataFrame
    lineage: DataFrame
    n_selected: int
    next_count: int
    persisted: list


def _round_dataflow(
    pages: DataFrame,
    robots: DataFrame | None,
    cfg: CrawlConfig,
    k: int,
    priority_base: int,
    frontier: DataFrame,
    seen_parts: list[DataFrame],
    shards: DataFrame | None,
    batch_deltas: list[DataFrame],
    frontier_rows: int,
) -> _RoundFlow:
    """The per-depth dataflow for logical round k: politeness select →
    global FIFO rank → fetch join → link explode → admission → split.
    ``pages``: the pages table, read once per committed transition.
    ``batch_deltas``: urls admitted since the seen set in ``seen_parts`` —
    by earlier depths of the same committed batch, or by a transition whose
    commit is still writing — exact anti-join parts (tiny, AQE-broadcast;
    they are not Bloom-covered, so they must not carry the maybe_seen
    condition). ``frontier_rows``: ``frontier``'s exact row count (committed
    or observed).

    The depth runs ONE Spark action on the small-rank path: the eager
    localCheckpoint of its admitted/deferred/retries frame, which also
    truncates the plan (the next depth may chain on it in memory; 16
    chained depths of un-truncated plan OOM the driver just *printing* the
    tree). Mid-batch fault tolerance is not lost: a crashed batch recomputes
    from the committed round."""
    # -- politeness selection (W3/T3) --------------------------------------
    flagged = select_round(frontier, robots, cfg.default_budget,
                           delay_window_s=cfg.delay_window_s)
    selected = flagged.filter(F.col("selected")).drop("selected")
    deferred = flagged.filter(~F.col("selected")).drop("selected").select(*FRONTIER_COLS)

    # -- global FIFO rank (W1/W2) ------------------------------------------
    # JVM-only analytic rank over the full round set: one bucket-hash shuffle
    # (no range sampling, no Python round trip, no join-back). The frontier
    # count rides in as the size hint — tail depths take the single-window
    # small path, which runs no action; the selected count is observed at
    # the checkpoint below.
    ranked, _, pinned = with_global_rank(
        selected, "priority", "fifo_rank", size_hint=frontier_rows
    )

    # -- global per-round cap (T3, cfg.jar_limit): rows ranked past the cap
    # defer with priority intact; the rank is already global, so the cap is
    # one filter — no extra shuffle, no second ordering pass
    if cfg.jar_limit is not None:
        deferred = deferred.unionByName(
            ranked.filter(F.col("fifo_rank") >= cfg.jar_limit).select(*FRONTIER_COLS)
        )
        ranked = ranked.filter(F.col("fifo_rank") < cfg.jar_limit)

    # -- fetch join (J2): huge pages scan ⋈ broadcast round set -------------
    fetched = (
        pages.select("url", "html").join(F.broadcast(ranked), "url", "inner")
        .withColumn("page_bytes", F.length("html").cast("long"))
        .withColumn("ext", extract_links(F.col("html")))
        .drop("html")
        .persist()
    )

    # dead dir links: selected but absent from pages (404 analog). Failed
    # attempts requeue with retry_count+1 until cfg.max_retries (U4).
    failed = (
        ranked.join(F.broadcast(fetched.select("url")), "url", "left_anti")
        .persist()
    )
    # error ``details``: per-stage JSON context (reference error_log.details,
    # /root/reference/ddl/error_log.sql; to_json omits null fields)
    errors_dead = error_rows(
        failed, k, "crawler", "fetch_failed",
        (F.col("retry_count") + 1).alias("attempt"), "parent_url", "depth",
    )
    retries = (
        failed.filter(F.col("retry_count") < F.lit(cfg.max_retries))
        .withColumn("retry_count", F.col("retry_count") + 1)
        .select(*FRONTIER_COLS)
    )
    errors_parse = error_rows(
        fetched.filter(F.col("ext.parse_failed")), k, "crawler", "parse_failed",
        "parent_url", "depth",
    )

    # -- link explode + absolutize + priority arithmetic (P1/P3, core.py) ---
    links = fetched.select(
        F.col("url").alias("parent_url"),
        F.col("depth").alias("parent_depth"),
        F.col("fifo_rank"),
        F.posexplode(F.col("ext.links")).alias("discovery_idx", "link"),
    )
    child_url = F.concat(F.col("parent_url"), F.col("link.href"))
    if cfg.normalize_urls:
        from ..functions.urlnorm import normalize_url

        child_url = normalize_url(child_url)
    cand = links.select(
        child_url.alias("url"),
        (F.col("parent_depth") + 1).alias("depth"),
        (
            F.lit(priority_base)
            + F.col("fifo_rank") * F.lit(PRIORITY_STRIDE)
            + F.col("discovery_idx")
        ).alias("priority"),
        "parent_url",
        F.col("discovery_idx").cast("int"),
        F.col("link.is_dir").alias("is_dir"),
        F.col("link.ts_str").alias("ts_str"),
    ).withColumn("host", host_of(F.col("url")))

    cand = gate_robots(cand, robots)
    # probe → within-batch FIFO first-occurrence dedup → exact anti-joins;
    # dedup_first keeps the aggregate's url-partitioning visible to the
    # joins (one candidate shuffle total — see admit_new docstring)
    new0 = admit_new(cand, seen_parts, shards, cfg.bloom, dedup_first=True)
    for d in batch_deltas:
        new0 = new0.join(d.select("url"), "url", "left_anti")

    # ONE materialization per depth: admitted ∪ deferred ∪ retries as a
    # single tagged frame. Rounds 1-5 checkpointed `new` and `next_frontier`
    # separately — two jobs per depth, and the next_frontier job re-ran the
    # politeness flag pass for `deferred` (flagged is not cached). The union
    # computes everything once; `new` and `next_frontier` are filters over
    # the checkpointed result (no further jobs).
    new_cols = new0.columns
    nullb = F.lit(None).cast("boolean")
    nulls = F.lit(None).cast("string")
    combined = (
        new0.select(
            *FRONTIER_COLS[:-1],  # url..discovery_idx (retry_count synthesized)
            F.lit(0).alias("retry_count"), "is_dir", "ts_str",
            F.lit("n").alias("_tag"),
        )
        .unionByName(deferred.select(
            *FRONTIER_COLS, nullb.alias("is_dir"), nulls.alias("ts_str"),
            F.lit("d").alias("_tag")))
        .unionByName(retries.select(
            *FRONTIER_COLS, nullb.alias("is_dir"), nulls.alias("ts_str"),
            F.lit("r").alias("_tag")))
    )
    # next frontier = deferred ∪ admitted dirs ∪ retries
    is_next = (F.col("_tag") != "n") | F.coalesce(F.col("is_dir"), F.lit(False))
    combined, n = _checkpoint_counting(
        combined, deferred=F.col("_tag") == "d", next=is_next)
    new = combined.filter(F.col("_tag") == "n").select(*new_cols)

    new_leaves = new.filter(~F.col("is_dir")).select(
        "url", "depth", "ts_str", "parent_url"
    )

    # -- leaf fetch + text extraction (downloader/extractor analog) ---------
    # results and errors_dead_leaf are written concurrently by the commit,
    # so they share no pinned frame (both jobs would compute it): the dead
    # leaves come from a url-only semi-join of pages against the broadcast
    # leaf set, which never reads html
    leaf_pages = pages.select("url", "warc_ts", "html", "lang").join(
        F.broadcast(new_leaves), "url", "inner"
    )
    leaf_urls = pages.select("url").join(
        F.broadcast(new_leaves.select("url")), "url", "left_semi"
    )
    result_cols = [
        "url",
        "warc_ts",
        "text",
        "lang",
        "depth",
        F.lit(k).alias("round"),
        F.to_timestamp(F.col("ts_str"), LISTING_TS_SPARK_FORMAT).alias("publish_ts"),
    ]
    results = leaf_pages.withColumn(
        "text", extract_text(F.col("html"))
    ).select(*result_cols)
    errors_dead_leaf = error_rows(
        new_leaves.join(F.broadcast(leaf_urls), "url", "left_anti"),
        k, "download", "fetch_failed", "parent_url", "depth",
    )

    # -- lineage (A1-A3): per-partition rows --------------------------------
    # urls_in counts scheduled URLs (incl. dead links); bytes only from
    # pages actually fetched. ONE tagged union + ONE aggregate: the
    # round-5 shape ran three separate groupBys (three Exchanges, ~5 AQE
    # stage-jobs per lineage write — the single most expensive write in the
    # round profile). spark_partition_id is evaluated in each branch's own
    # projection BEFORE the union, so rows keep their source partition ids;
    # per-(partition, source) rows are identical to the three-agg form.
    pid = F.spark_partition_id().alias("partition_id")
    zero = F.lit(0).cast("long")
    lin_src = (
        ranked.select(pid, F.lit("i").alias("_t"), zero.alias("page_bytes"))
        .unionByName(fetched.select(pid, F.lit("b").alias("_t"), "page_bytes"))
        .unionByName(new.select(pid, F.lit("o").alias("_t"),
                                zero.alias("page_bytes")))
    )
    lin_agg = lin_src.groupBy("partition_id", "_t").agg(
        F.count("*").alias("_n"), F.sum("page_bytes").alias("_b")
    )
    lineage = lin_agg.select(
        F.lit(cfg.run_id).alias("run_id"), F.lit(k).alias("round"),
        "partition_id",
        F.when(F.col("_t") == "i", F.col("_n")).otherwise(zero).alias("urls_in"),
        F.when(F.col("_t") == "o", F.col("_n")).otherwise(zero).alias("urls_out"),
        F.when(F.col("_t") == "b", F.col("_b")).otherwise(zero).alias("bytes_fetched"),
    )

    # checkpointed frames free via ContextCleaner on GC
    return _RoundFlow(
        next_frontier=combined.filter(is_next).select(*FRONTIER_COLS),
        new=new,
        results=results,
        errors=errors_dead.unionByName(errors_parse).unionByName(errors_dead_leaf),
        lineage=lineage,
        # every frontier row is either deferred (politeness or the jar cap)
        # or selected
        n_selected=frontier_rows - n["deferred"],
        next_count=n["next"],
        persisted=[fetched, failed, pinned],
    )


def _advance(
    spark: SparkSession,
    store: RoundStore,
    pages_path: str,
    robots: DataFrame | None,
    cfg: CrawlConfig,
    src: int | _Pending,
) -> _Pending:
    """Run one committed transition and launch its commit; returns the
    pending handle. ``src`` is either a committed round k, read from disk,
    or the previous transition's pending handle: its in-memory frontier is
    the input, the seen set and Bloom filter are read at its on-disk round,
    and its admitted urls join ``batch_deltas`` (an exact anti-join, so the
    filter's no-false-negative contract holds).

    The depths run while the previous commit is still writing; the
    transition waits for that commit before it builds its own artifacts
    (``compaction_due``, ``read_seen`` and ``read_domains`` need round k on
    disk), so commits land in round order and at most one is in flight.

    Normally a transition is exactly one logical depth (commit
    round_{k+1}). With ``cfg.batch_threshold > 0`` and a frontier smaller
    than it, up to ``MAX_BATCH_ROUNDS`` logical depths run back-to-back in
    memory and commit ONCE at round_{k+n} — same results/errors/lineage/
    priority arithmetic per logical round, one commit for the whole batch.
    The batch stops early when the frontier empties, grows back over the
    threshold, or max_rounds is reached."""
    if isinstance(src, int):
        # a crashed prior attempt (or aborted update transition) may have
        # left stale artifacts at ANY index above k (batched commits
        # stride) — sweep them all; committing around stale state is never
        # allowed
        store.clean_uncommitted_above(src)
        meta, disk_k, carried = store.meta(src), src, []
        frontier = store.read_frontier(spark, src)
    else:
        meta, disk_k, carried = src.meta, src.disk_k, [src.admitted]
        frontier = src.frontier
    k = meta.round
    seen_parts, shards = [], None
    if disk_k is not None:
        seen_parts = [p for p in (store.read_seen_base(spark, disk_k),
                                  store.read_seen_deltas(spark, disk_k))
                      if p is not None]
        # the filter only under the spec that built it (a mismatched
        # filter's false negative would admit a duplicate); otherwise
        # admission is exact
        if cfg.use_bloom and store.meta(disk_k).bloom == asdict(cfg.bloom):
            shards = store.read_shards(spark, disk_k)
    # ONE shard materialization per committed transition: every depth of a
    # batched round probes the same filter (urls it does not cover are
    # handled by the exact batch_deltas anti-joins)
    persisted = [] if shards is None else [shards.persist()]

    batching = 0 < meta.frontier_count < cfg.batch_threshold
    max_inner = MAX_BATCH_ROUNDS if batching else 1

    flows: list[_RoundFlow] = []
    pages = spark.read.parquet(pages_path)
    priority_base = meta.priority_base
    logical_k = k
    frontier_rows = meta.frontier_count
    try:
        while True:
            flow = _round_dataflow(
                pages, robots, cfg, logical_k, priority_base,
                frontier, seen_parts, shards,
                batch_deltas=carried + [f.new for f in flows],
                frontier_rows=frontier_rows,
            )
            flows.append(flow)
            persisted += flow.persisted
            if flow.n_selected == 0:
                raise RuntimeError(
                    f"round {logical_k}: frontier non-empty but nothing "
                    "selected — politeness budget must be ≥ 1 per active host"
                )
            priority_base += flow.n_selected * PRIORITY_STRIDE
            logical_k += 1
            frontier = flow.next_frontier
            frontier_rows = flow.next_count
            if (
                len(flows) >= max_inner
                or flow.next_count == 0
                or logical_k >= cfg.max_rounds
                or (batching and flow.next_count >= cfg.batch_threshold)
            ):
                break
        if isinstance(src, _Pending):
            src.join()
    except BaseException:
        for df in persisted:
            df.unpersist()
        raise

    commit_k = logical_k
    all_new = flows[0].new
    results = flows[0].results
    errors = flows[0].errors
    lineage = flows[0].lineage
    for f in flows[1:]:
        all_new = all_new.unionByName(f.new)
        results = results.unionByName(f.results)
        errors = errors.unionByName(f.errors)
        lineage = lineage.unionByName(f.lineage)
    admitted = all_new.select("url")

    # the artifacts are independent and all derive from persisted or
    # checkpointed frames, so the commit writes them concurrently
    artifacts = {
        "frontier": frontier,
        "results_delta": results,
        "errors_delta": errors,
        "lineage": lineage,
        # every depth's frontier folds in once, at the commit
        "domains": fold_domains(store.read_domains(spark, k), [
            (k + 1 + i, f.next_frontier) for i, f in enumerate(flows)
        ]),
    }
    # the seen LSM writes a per-round DELTA (O(new urls) bytes, not O(total)
    # — a 10^10-URL seen set is tens of GB); a due round writes the
    # consolidated base in its place, and the Bloom filter beside it
    if store.compaction_due(commit_k):
        seen_full = store.read_seen(spark, k).unionByName(admitted)
        artifacts["seen_full"] = seen_full
        if cfg.use_bloom:
            artifacts["shards"] = build_shards(seen_full, cfg.bloom)
    else:
        artifacts["seen_delta"] = admitted
    next_meta = round_meta(cfg, commit_k, priority_base, frontier_rows)
    return _Pending(store, next_meta, artifacts, k, frontier, admitted, persisted)


def run_round(
    spark: SparkSession,
    store: RoundStore,
    pages_path: str,
    robots: DataFrame | None,
    cfg: CrawlConfig,
    k: int,
) -> RoundMeta:
    """Execute one committed transition starting at committed round k (see
    ``_advance``); returns the new round's meta once it is on disk."""
    return _advance(spark, store, pages_path, robots, cfg, k).join()
