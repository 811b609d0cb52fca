"""Atomic per-round checkpoint store (SURVEY.md §4.2.5, §7.0).

Iceberg-snapshot-shaped semantics on plain parquet directories: each round
writes its outputs under ``round_NNNNNN/`` and drops a ``_COMMIT`` marker
file **last**; resume scans for the highest committed round and discards any
uncommitted partial (the reference's analog: status-reset re-claim of
in-flight rows, /root/reference/graven/db/graven_database.py:159-165).

Layout (round k's directory holds the state *entering* round k):

    root/
      round_000000/            # seeded state
        frontier/  seen_delta/ domains/       meta.json     _COMMIT
      round_000001/            # after round 0 ran
        frontier/  seen_delta/ results_delta/ errors_delta/ lineage/
        domains/   meta.json   _COMMIT
      round_000008/            # a compaction round has seen_full/ in place
        seen_full/ shards/     # of seen_delta/, and the Bloom filter over it

Every round, the seeded one included, commits through
``RoundStore.commit(k, meta, artifacts)``: the ``name → DataFrame``
artifacts are written concurrently, then ``meta.json``, then ``_COMMIT``.
Nothing else writes into a round directory, and nothing writes into a round
after its marker.

This module defines every crawl-state format: the artifact schemas below,
``RoundMeta`` and the error-row builder ``error_rows``. A seen row is one
``url`` (older states also carry the url's 64-bit hash; readers project
``url`` by name).

``seen`` is an LSM: a bucketed, sorted ``seen_full`` base plus the
per-round ``seen_delta`` parquet files after it. The base is written with
``bucketBy(B, url).sortBy(url)`` — one file per bucket — and read back
through the session catalog as a bucketed table, so the per-round
admission anti-join needs **no Exchange and no Sort on the seen side** (the
big, growing side); only the round's bounded candidate set shuffles. The
small deltas since the last compaction are anti-joined after the base probe
(candidates are already hash-partitioned on url by then, so only the delta
side moves).

Compaction is one more commit artifact: a round that re-baselines writes
``seen_full`` (the previous chain ∪ the round's new urls) instead of its
``seen_delta``. Crash safety comes from the marker and the sweep, not from
a rename: a round directory without ``_COMMIT`` is invisible to resume and
``clean_uncommitted_above`` removes it before the round is re-run, so a
partial base can never shadow the deltas.

The Bloom filter is stored only beside the seen base: a commit that
writes ``seen_full`` also writes ``shards``, built from the same rows, one
``(blk bigint, words array<bigint>)`` row per 512-bit block that holds a
url. ``read_shards`` ORs that set with the blocks of the seen deltas after
the base (the files the delta anti-join reads), so there is no second
chain. The spec is recorded in ``meta.json`` as one ``bloom`` stamp, the
spec's fields as a dict. The filter is used only when round k's stamp, the
base's and the running spec agree; otherwise admission is exact (a
mismatched filter's false negative would admit a duplicate). A meta
written before the stamp existed reads as unstamped, a base set in an
older ``(bucket, longs)`` or ``(bucket, filter)`` layout as no filter, and
shard sets at rounds without ``seen_full`` are never read.

The iterative plan is truncated by each depth's eager localCheckpoint
(``plans/frontier.py``), so every round's Spark plan has constant size
whether the next round reads this round's parquet or builds on the
checkpoint in memory while this round's commit is still writing. A commit
runs on one thread at a time and in round order: the next transition waits
for it before reading round k's seen set or domains from here.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import BloomSpec, build_shards, merge_shards

_ROUND_RE = re.compile(r"^round_(\d{6})$")

FRONTIER_SCHEMA = (
    "url string, host string, depth int, priority bigint, "
    "parent_url string, discovery_idx int, retry_count int"
)
# older seen files also hold a hash column; readers project url by name
SEEN_SCHEMA = "url string"
RESULTS_SCHEMA = (
    "url string, warc_ts timestamp, text string, lang string, "
    "depth int, round int, publish_ts timestamp"
)
# ``details`` is a JSON object (reference error_log.details,
# /root/reference/ddl/error_log.sql + graven_database.py:393-405: optional
# debug context per error) — built with to_json(struct(...)), null fields
# omitted, so each stage ships its own context keys.
ERRORS_SCHEMA = "round int, url string, stage string, reason string, details string"


def error_rows(df: DataFrame, k: int | None, stage: str, reason: str,
               *details: Column | str) -> DataFrame:
    """``df``'s ``url`` rows as ERRORS_SCHEMA rows of round ``k`` (None for
    rows outside the crawl), ``details`` = to_json(struct(*details))."""
    return df.select(
        F.lit(k).cast("int").alias("round"), "url",
        F.lit(stage).alias("stage"), F.lit(reason).alias("reason"),
        F.to_json(F.struct(*details)).alias("details"),
    )


# Folded run-lifecycle rows (reference run_log,
# /root/reference/ddl/0_run_log.sql + graven_database.py:353-377: one row
# per invocation, start/end stamps + exit_code INTEGER + tool metadata
# columns syft_version / grype_version / grype_db_source).
RUN_LOG_SCHEMA = (
    "seq int, run_id string, start_round int, end_round int, "
    "exit_status string, exit_code int, started_at string, ended_at string, "
    "syft_version string, grype_version string, grype_db_source string"
)

# exit code stamped on a dangling run closed as KILLED by the next
# invocation (128+SIGKILL — the conventional shell encoding; the reference
# records the pipeline's exit code via log_run_end, a killed process never
# reaches it, so the closer supplies the code)
KILLED_EXIT_CODE = 137
LINEAGE_SCHEMA = (
    "run_id string, round int, partition_id int, "
    "urls_in bigint, urls_out bigint, bytes_fetched bigint"
)
# Domain lifecycle rows (reference: crawl_start/crawl_end stamps + the
# COMPLETED/IN_PROGRESS gate, /root/reference/graven/db/graven_database.py:188-210).
DOMAINS_SCHEMA = "host string, status string, start_round int, end_round int"

SEEN_BUCKETS_DEFAULT = 32


@dataclass
class RoundMeta:
    round: int
    priority_base: int
    frontier_count: int
    seen_buckets: int = SEEN_BUCKETS_DEFAULT
    # True iff this round's seen_full was written by the bucketed writer
    # (one sorted file per bucket); ``commit`` stamps it. The read path
    # branches on THIS flag — never on file-name sniffing, which a Spark
    # naming change or a foreign writer would fool into declaring wrong
    # bucket metadata.
    seen_bucketed: bool = False
    # ``dataclasses.asdict`` of the BloomSpec the round's filter is built
    # with; None when the filter is off
    bloom: dict | None = None

    def to_json(self) -> str:
        return json.dumps(self.__dict__)

    @staticmethod
    def from_json(s: str) -> "RoundMeta":
        known = {f.name for f in dataclasses.fields(RoundMeta)}
        return RoundMeta(**{k: v for k, v in json.loads(s).items() if k in known})


class RoundStore:
    def __init__(self, root: str, compact_every: int = 8,
                 seen_buckets: int = SEEN_BUCKETS_DEFAULT):
        # absolute: Spark resolves a relative table path against
        # spark.sql.warehouse.dir (and a file path against the JVM's working
        # dir), where the existence checks here would never find it
        self.root = os.path.abspath(root)
        self.compact_every = compact_every
        self.seen_buckets = seen_buckets
        os.makedirs(self.root, exist_ok=True)
        # Catalog identifiers for this store's bucketed base tables must be
        # unique per state dir (tests run many crawls in one session).
        self._digest = hashlib.md5(self.root.encode("utf-8")).hexdigest()[:10]

    # -- paths ------------------------------------------------------------
    def round_dir(self, k: int) -> str:
        return os.path.join(self.root, f"round_{k:06d}")

    def _p(self, k: int, name: str) -> str:
        return os.path.join(self.round_dir(k), name)

    # -- commit protocol ---------------------------------------------------
    def committed_rounds(self) -> list[int]:
        out = []
        for d in os.listdir(self.root):
            m = _ROUND_RE.match(d)
            if m and os.path.exists(os.path.join(self.root, d, "_COMMIT")):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def clean_uncommitted(self, k: int) -> None:
        """Remove a round dir that never reached its commit marker — a
        crashed writer may have left ANY subset of the round's artifacts
        (including a complete-looking seen_full from an aborted update
        transition); re-running the round must not commit around stale
        state."""
        d = self.round_dir(k)
        if os.path.exists(d) and not os.path.exists(os.path.join(d, "_COMMIT")):
            shutil.rmtree(d)

    def clean_uncommitted_above(self, k: int) -> None:
        """Sweep EVERY uncommitted round dir above k. Batched rounds commit
        at a data-dependent index (k + depths-processed), so a crashed batch
        can leave its partial dir at any index > k; the union readers scan
        by directory existence, so a stale dir must never be left where a
        later (differently-batched) commit sequence could stride past it."""
        for d in os.listdir(self.root):
            m = _ROUND_RE.match(d)
            if m and int(m.group(1)) > k:
                self.clean_uncommitted(int(m.group(1)))

    def commit(self, k: int, meta: RoundMeta,
               artifacts: dict[str, DataFrame] | None = None) -> None:
        """Commit round k: write ``artifacts`` (name → frame) concurrently,
        then ``meta.json``, then the ``_COMMIT`` marker. A failed write
        raises before the marker, so the round stays uncommitted. A
        ``seen_full`` artifact goes through the bucketed writer, and
        ``meta.seen_bucketed`` is stamped to say whether one did."""
        artifacts = artifacts or {}
        meta.seen_bucketed = "seen_full" in artifacts
        if artifacts:
            # one thread per artifact: the writes are KB-scale latency-bound
            # jobs, so each write's tail back-fills the cores the others
            # leave idle (sequential, they were about half of full_crawl's
            # wall time; one thread each measured 24.6 → 21.5-22.4 s
            # full_crawl against a 4-wide pool)
            with ThreadPoolExecutor(max_workers=len(artifacts)) as pool:
                list(pool.map(lambda nd: self._write(k, *nd), artifacts.items()))
        with open(self._p(k, "meta.json"), "w") as f:
            f.write(meta.to_json())
        with open(self._p(k, "_COMMIT"), "w") as f:
            f.write("ok")

    def meta(self, k: int) -> RoundMeta:
        with open(self._p(k, "meta.json")) as f:
            return RoundMeta.from_json(f.read())

    # -- writers ------------------------------------------------------------
    def _write(self, k: int, name: str, df: DataFrame) -> None:
        if name == "seen_full":
            self._write_seen_full(k, df)
        else:
            df.write.mode("overwrite").parquet(self._p(k, name))

    def _write_seen_full(self, k: int, seen: DataFrame) -> None:
        """Write the consolidated seen base: bucketed + sorted by url, one
        file per bucket (``repartition(B, url)`` feeds ``bucketBy(B, url)``
        the same murmur3 pmod). ``bucketBy`` needs a catalog table; it is
        external, so its files survive the drop."""
        spark = seen.sparkSession
        tmp_tbl = f"graven_seen_tmp_{self._digest}_{k:06d}"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        (
            seen.repartition(self.seen_buckets, F.col("url"))
            .write.mode("overwrite")
            .option("path", self._p(k, "seen_full"))
            .bucketBy(self.seen_buckets, "url")
            .sortBy("url")
            .format("parquet")
            .saveAsTable(tmp_tbl)
        )
        spark.sql(f"DROP TABLE {tmp_tbl}")

    # -- readers ------------------------------------------------------------
    def _read(self, spark: SparkSession, path: str, schema: str) -> DataFrame:
        return spark.read.schema(schema).parquet(path)

    def read_frontier(self, spark: SparkSession, k: int) -> DataFrame:
        return self._read(spark, self._p(k, "frontier"), FRONTIER_SCHEMA)

    def read_shards(self, spark: SparkSession, k: int) -> DataFrame | None:
        """The Bloom filter over round k's seen set under round k's stamp:
        the set beside the newest ``seen_full`` ≤ k (if any) OR'd with the
        blocks of the seen deltas after it. ``None`` when round k is
        unstamped, or the base's set is missing, predates the ``(blk,
        words)`` layout or carries another stamp."""
        stamp = self.meta(k).bloom
        if stamp is None:
            return None
        kb = self.newest("seen_full", k)
        parts = []
        if kb is not None:
            path = self._p(kb, "shards")
            if not os.path.exists(path) or self.meta(kb).bloom != stamp:
                return None
            base = spark.read.parquet(path)
            if not {"blk", "words"} <= set(base.columns):
                return None
            parts.append(base)
        deltas = self.read_seen_deltas(spark, k)
        if deltas is not None:
            parts.append(build_shards(deltas, BloomSpec(**stamp)))
        return merge_shards(*parts) if len(parts) > 1 else parts[0]

    def read_domains(self, spark: SparkSession, k: int) -> DataFrame:
        path = self._p(k, "domains")
        if not os.path.exists(path):
            return spark.createDataFrame([], DOMAINS_SCHEMA)
        return self._read(spark, path, DOMAINS_SCHEMA)

    def newest(self, name: str, upto_k: int) -> int | None:
        """Newest round ≤ upto_k holding artifact ``name``."""
        for k in range(upto_k, -1, -1):
            if os.path.exists(self._p(k, name)):
                return k
        return None

    def _chain(self, upto_k: int) -> tuple[int | None, list[str]]:
        """The seen LSM at round upto_k: the newest round ≤ upto_k holding
        ``seen_full`` (None if none does) and the ``seen_delta`` paths after
        it."""
        kb = self.newest("seen_full", upto_k)
        start = 0 if kb is None else kb + 1
        paths = [self._p(j, "seen_delta") for j in range(start, upto_k + 1)]
        return kb, [p for p in paths if os.path.exists(p)]

    def compaction_due(self, k: int) -> bool:
        """Whether round k writes ``seen_full`` (and the filter beside it):
        when it is compact_every rounds or more past the previous seen base
        (round 0 if none). For stride-1 commits that is every
        compact_every-th round; a batched commit may stride past the
        multiple, and an --update-domain base restarts the count."""
        if k == 0:
            return False
        kb = self.newest("seen_full", k - 1)
        return k - (kb or 0) >= self.compact_every

    def read_seen_base(self, spark: SparkSession, upto_k: int) -> DataFrame | None:
        """The bucketed seen base as a catalog table — joins against it read
        the buckets directly (no Exchange, no Sort on this side). None if no
        compaction has run yet.

        The declared bucket count MUST be the one the base was written with
        (that round's RoundMeta), never the current config: declaring B'≠B
        over B-bucket files would mis-partition the join and silently drop
        anti-join matches on a resume with a changed --seen-buckets."""
        kb, _ = self._chain(upto_k)
        if kb is None:
            return None
        meta = self.meta(kb)
        buckets = meta.seen_buckets
        tbl = f"graven_seen_{self._digest}_{kb:06d}"
        path = self._p(kb, "seen_full")
        if not meta.seen_bucketed:
            # a seen_full not stamped by the bucketed writer (written by
            # older code or a foreign writer): still a correct seen base,
            # just joins with an Exchange
            return spark.read.schema(SEEN_SCHEMA).parquet(path)
        if not spark.catalog.tableExists(tbl):
            # a backslash-escaped literal: SQL's doubled '' would parse as
            # two adjacent string literals
            loc = path.replace("\\", "\\\\").replace("'", "\\'")
            spark.sql(
                f"CREATE TABLE {tbl} (url STRING) "
                f"USING PARQUET CLUSTERED BY (url) SORTED BY (url) "
                f"INTO {buckets} BUCKETS LOCATION '{loc}'"
            )
        spark.catalog.refreshTable(tbl)
        return spark.table(tbl)

    def read_seen_deltas(self, spark: SparkSession, upto_k: int) -> DataFrame | None:
        """Per-round seen deltas newer than the base (small: bounded by the
        politeness budget × rounds-since-compaction)."""
        _, paths = self._chain(upto_k)
        if not paths:
            return None
        return spark.read.schema(SEEN_SCHEMA).parquet(*paths)

    def read_seen(self, spark: SparkSession, upto_k: int) -> DataFrame:
        """The whole seen set at upto_k: the base plus the deltas after it."""
        kb, paths = self._chain(upto_k)
        if kb is not None:
            paths = [self._p(kb, "seen_full"), *paths]
        return spark.read.schema(SEEN_SCHEMA).parquet(*paths)

    def maybe_compact_seen(self, spark: SparkSession, k: int) -> bool:
        """No-op that returns False: compaction is a commit artifact now
        (``frontier._advance`` writes ``seen_full`` in the round that
        re-baselines). Kept only for callers written against the
        post-commit compaction; drop it with them."""
        return False

    def read_union(self, spark: SparkSession, name: str, schema: str, upto_k: int) -> DataFrame:
        paths = [self._p(k, name) for k in range(upto_k + 1) if os.path.exists(self._p(k, name))]
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def mark_updated(self) -> None:
        """Record that an update-mode round re-wrote result urls (read path
        must dedup from then on)."""
        with open(os.path.join(self.root, "_UPDATED"), "w") as f:
            f.write("ok")

    def read_results(self, spark: SparkSession, upto_k: int) -> DataFrame:
        """Extracted results. In a normal crawl every url appears exactly
        once (the seen set guarantees it) → plain union scan, no shuffle.
        After an --update-jar re-process round (``_UPDATED`` marker) the
        newest round's row per url wins (max_by over round)."""
        raw = self.read_union(spark, "results_delta", RESULTS_SCHEMA, upto_k)
        if not os.path.exists(os.path.join(self.root, "_UPDATED")):
            return raw
        others = [c for c in raw.columns if c != "url"]
        return (
            raw.groupBy("url")
            .agg(F.max_by(F.struct(*others), F.col("round")).alias("_r"))
            .select("url", *[f"_r.{c}" for c in others])
        )

    def read_errors(self, spark: SparkSession, upto_k: int) -> DataFrame:
        return self.read_union(spark, "errors_delta", ERRORS_SCHEMA, upto_k)

    # -- run_log (reference /root/reference/ddl/0_run_log.sql) --------------
    # Event-sourced: each crawl() invocation appends one atomic ``start``
    # event file and (on clean exit) one ``end`` file under run_log/. A
    # killed run leaves a dangling start; the NEXT invocation closes it as
    # KILLED at the latest committed round — the analog of the reference's
    # log_run_start/log_run_end bracket (graven_database.py:353-377), made
    # crash-safe by append-only atomic renames instead of an UPDATE.

    def _run_log_dir(self) -> str:
        d = os.path.join(self.root, "run_log")
        os.makedirs(d, exist_ok=True)
        return d

    def _run_log_events(self) -> list[dict]:
        d = self._run_log_dir()
        out = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".json") and not f.startswith("_"):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
        return out

    def _write_run_event(self, evt: dict) -> None:
        import datetime as _dt

        evt["ts"] = _dt.datetime.now(_dt.timezone.utc).isoformat()
        d = self._run_log_dir()
        name = f"evt_{evt['seq']:06d}_{evt['event']}.json"
        tmp = os.path.join(d, f"_tmp_{name}")
        with open(tmp, "w") as f:
            json.dump(evt, f)
        os.replace(tmp, os.path.join(d, name))

    def log_run_start(
        self, run_id: str, start_round: int, tool_meta: dict | None = None
    ) -> int:
        """Open a run; returns its seq. Any dangling (crashed) prior run is
        closed as KILLED (exit_code 137) at the latest committed round
        first. ``tool_meta``: the reference run_log's scanner metadata —
        syft_version / grype_version / grype_db_source
        (/root/reference/ddl/0_run_log.sql; populated from the scanner
        wrappers' version probes, anchore/syft.py:94-105)."""
        events = self._run_log_events()
        ended = {e["seq"] for e in events if e["event"] == "end"}
        latest = self.latest_round()
        for e in events:
            if e["event"] == "start" and e["seq"] not in ended:
                self._write_run_event({
                    "seq": e["seq"], "event": "end", "round": latest,
                    "exit_status": "KILLED", "exit_code": KILLED_EXIT_CODE,
                })
        seq = max((e["seq"] for e in events), default=-1) + 1
        evt = {
            "seq": seq, "event": "start", "round": start_round, "run_id": run_id,
        }
        for key in ("syft_version", "grype_version", "grype_db_source"):
            if tool_meta and tool_meta.get(key) is not None:
                evt[key] = tool_meta[key]
        self._write_run_event(evt)
        return seq

    def log_run_end(
        self, seq: int, end_round: int, exit_status: str = "OK",
        exit_code: int = 0,
    ) -> None:
        self._write_run_event({
            "seq": seq, "event": "end", "round": end_round,
            "exit_status": exit_status, "exit_code": exit_code,
        })

    def read_run_log(self, spark: SparkSession) -> DataFrame:
        """Folded lifecycle table: one row per invocation; a run with no end
        event yet is RUNNING (it either still is, or will be closed KILLED
        by the next invocation). exit_code: 0 OK, 137 KILLED, the failing
        stage's code otherwise; NULL while RUNNING."""
        starts: dict[int, dict] = {}
        ends: dict[int, dict] = {}
        for e in self._run_log_events():
            (starts if e["event"] == "start" else ends)[e["seq"]] = e
        rows = []
        for seq in sorted(starts):
            s, e = starts[seq], ends.get(seq)
            rows.append((
                seq, s.get("run_id"), s["round"],
                e["round"] if e else None,
                e["exit_status"] if e else "RUNNING",
                e.get("exit_code") if e else None,
                s["ts"], e["ts"] if e else None,
                s.get("syft_version"), s.get("grype_version"),
                s.get("grype_db_source"),
            ))
        return spark.createDataFrame(rows, RUN_LOG_SCHEMA)

    def read_lineage(self, spark: SparkSession, upto_k: int) -> DataFrame:
        return self.read_union(spark, "lineage", LINEAGE_SCHEMA, upto_k)
