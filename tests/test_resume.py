"""Checkpoint/resume semantics (SURVEY.md §5.3; north_rule: "a killed job
resumes mid-crawl with identical downstream ordering"). Mirrors the
reference's status-reset re-claim resume
(/root/reference/graven/db/graven_database.py:159-165). Also the run_log
lifecycle, the update (re-process) modes and frontier-size-adaptive round
batching, which all commit through the same store."""

from __future__ import annotations

import dataclasses
import glob
import json
import os
import shutil
import threading

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from graven_spark.operators.bloom import probe
from graven_spark.oracle import crawl_oracle
from graven_spark.plans.driver import crawl
from graven_spark.plans.frontier import MAX_BATCH_ROUNDS, CrawlConfig, init_run, run_round
from graven_spark.sources.checkpoint import DOMAINS_SCHEMA, RoundMeta, RoundStore

from .conftest import _bloom, _write_pages, pages_dict, robots_dict  # noqa: F401


def _cfg(**kw) -> CrawlConfig:
    # compact_every=3 forces a compaction mid-run
    return CrawlConfig(**{"use_bloom": True, "bloom": _bloom(buckets=4),
                          "compact_every": 3, **kw})


def _assert_committed_rounds_immutable(store: RoundStore) -> None:
    """Nothing writes to a committed round: no file under ``round_k/`` is
    newer than its ``_COMMIT``, and a round holding a seen base holds no seen
    delta and a meta that says the base is bucketed."""
    for k in store.committed_rounds():
        d = store.round_dir(k)
        marker = os.stat(os.path.join(d, "_COMMIT")).st_mtime_ns
        for root, _, files in os.walk(d):
            for f in files:
                assert os.stat(os.path.join(root, f)).st_mtime_ns <= marker, (k, root, f)
        if os.path.exists(os.path.join(d, "seen_full")):
            assert not os.path.exists(os.path.join(d, "seen_delta")), k
            assert store.meta(k).seen_bucketed, k


def _collect(spark, out):
    seen = sorted(r.url for r in out.seen(spark).collect())
    res = sorted(
        (r.url, r.text, r.depth, r.round) for r in out.results(spark).collect()
    )
    return seen, res


def test_kill_and_resume_identical(spark, smoke_graph, tmp_path):
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    robots = spark.createDataFrame(
        smoke_graph.robots,
        schema="host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )

    # uninterrupted reference run
    full = crawl(spark, pages_path, seeds, robots, str(tmp_path / "full"), _cfg())

    # interrupted: stop after 2 rounds ("kill"), then resume
    part_dir = str(tmp_path / "part")
    crawl(spark, pages_path, seeds, robots, part_dir, _cfg(max_rounds=2))
    # simulate a mid-round crash artifact: an uncommitted partial round dir
    junk = os.path.join(part_dir, f"round_{3:06d}")
    os.makedirs(os.path.join(junk, "frontier"), exist_ok=True)
    resumed = crawl(spark, pages_path, seeds, robots, part_dir, _cfg())

    assert resumed.final_round == full.final_round
    assert _collect(spark, resumed) == _collect(spark, full)

    # the junk dir was overwritten by the committed real round 3
    assert os.path.exists(os.path.join(junk, "_COMMIT"))
    shutil.rmtree(junk, ignore_errors=True)

    # the filter has no false negative at any round: before the seen base,
    # at it and over the deltas after it
    store, spec = full.store, _cfg().bloom
    committed = store.committed_rounds()
    bases = [store.newest("seen_full", k) for k in committed]
    assert None in bases and any(b is not None and b < k for b, k in zip(bases, committed))
    for k in committed:
        probed = probe(store.read_seen(spark, k), store.read_shards(spark, k), spec)
        assert probed.filter(~F.col("maybe_seen")).count() == 0, k


def _round_state(spark, store: RoundStore, k: int) -> dict:
    """Everything committed round k holds, in comparable form."""
    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    lineage = store.read_lineage(spark, k).groupBy("round").agg(
        F.sum("urls_in"), F.sum("urls_out"), F.sum("bytes_fetched"))
    return {
        "meta": dataclasses.asdict(store.meta(k)),
        "frontier": rows(store.read_frontier(spark, k)),
        "seen": rows(store.read_seen(spark, k)),
        "results": rows(store.read_results(spark, k)),
        "errors": rows(store.read_errors(spark, k)),
        "lineage": rows(lineage),
        "domains": rows(store.read_domains(spark, k)),
    }


def test_pipelined_crawl_equals_synchronous_rounds(spark, smoke_graph, tmp_path):
    """``crawl()`` runs each transition's depths while the previous commit
    writes, from that transition's in-memory frontier. Its committed state
    must equal, round by round, the state of the synchronous
    ``init_run`` + ``run_round`` loop (each round read back from disk),
    with batched commits, compactions and politeness deferrals in the mix;
    and its Bloom filter has no false negative at any round."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    robots = spark.createDataFrame(
        smoke_graph.robots,
        schema="host string, disallow_prefixes array<string>, crawl_delay_tokens int",
    )
    cfg = _cfg(compact_every=2, batch_threshold=12)

    sync = RoundStore(str(tmp_path / "sync"), compact_every=2)
    meta = init_run(spark, sync, seeds, robots, cfg)
    while meta.frontier_count > 0:
        meta = run_round(spark, sync, pages_path, robots, cfg, meta.round)
    piped = crawl(spark, pages_path, seeds, robots, str(tmp_path / "piped"), cfg).store

    committed = piped.committed_rounds()
    assert committed == sync.committed_rounds()
    # batched and single-depth commits, and more than one seen base
    assert any(b - a > 1 for a, b in zip(committed, committed[1:]))
    assert any(b - a == 1 for a, b in zip(committed, committed[1:]))
    assert len({piped.newest("seen_full", k) for k in committed} - {None}) > 1
    _assert_committed_rounds_immutable(piped)
    for k in committed:
        assert _round_state(spark, piped, k) == _round_state(spark, sync, k), k
        probed = probe(piped.read_seen(spark, k), piped.read_shards(spark, k), cfg.bloom)
        assert probed.filter(~F.col("maybe_seen")).count() == 0, k


def test_failed_background_commit_stops_crawl(spark, smoke_graph, tmp_path, monkeypatch):
    """A commit write that fails on the background thread fails ``crawl()``:
    that round and every later one stay uncommitted, no commit thread
    outlives the call, and a resume equals the uninterrupted crawl."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    full = crawl(spark, pages_path, seeds, None, str(tmp_path / "full"), _cfg())

    write = RoundStore._write

    def failing_write(self, k, name, df):
        if k == 2 and name == "results_delta":
            raise OSError("results_delta write failed")
        write(self, k, name, df)

    d = str(tmp_path / "state")
    monkeypatch.setattr(RoundStore, "_write", failing_write)
    with pytest.raises(OSError, match="results_delta write failed"):
        crawl(spark, pages_path, seeds, None, d, _cfg())
    assert not [t for t in threading.enumerate() if t.name.startswith("graven-commit")]
    assert RoundStore(d).committed_rounds() == [0, 1]

    monkeypatch.undo()
    resumed = crawl(spark, pages_path, seeds, None, d, _cfg())
    assert resumed.store.committed_rounds() == full.store.committed_rounds()
    for k in full.store.committed_rounds():
        assert _round_state(spark, resumed.store, k) == _round_state(spark, full.store, k), k


def _to_dense_shard_layout(path: str, bits: int) -> None:
    """Rewrite a shard artifact in the dense layout that preceded blocked
    shards: one ``(bucket int, longs array<bigint>)`` row per bucket, each
    block's words at its offset in the bucket's bitarray."""
    t = pq.read_table(path)
    blocks, dense = bits // 512, {}
    for blk, words in zip(t.column("blk").to_pylist(), t.column("words").to_pylist()):
        longs = dense.setdefault(blk // blocks, np.zeros(bits // 64, dtype="<i8"))
        longs[(blk % blocks) * 8:][:len(words)] = words
    old = pa.table({"bucket": pa.array(list(dense), pa.int32()),
                    "longs": pa.array([w.tolist() for w in dense.values()], pa.list_(pa.int64()))})
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(old, os.path.join(path, "part-00000.parquet"))


def _to_old_meta_and_seen(root: str) -> None:
    """Rewrite every committed round the way older code wrote it: the Bloom
    stamp as four ``bloom_*`` meta fields, seen rows as ``(url_hash, url)``."""
    for meta_path in glob.glob(os.path.join(root, "round_*", "meta.json")):
        with open(meta_path) as f:
            meta = json.load(f)
        spec = meta.pop("bloom") or {}
        meta.update(bloom_on=bool(spec), bloom_buckets=spec.get("n_buckets", 0),
                    bloom_bits=spec.get("bits_per_shard", 0),
                    bloom_hashes=spec.get("n_hashes", 0))
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    for path in glob.glob(os.path.join(root, "round_*", "seen_delta")):
        urls = pq.read_table(path).column("url")
        shutil.rmtree(path)
        os.makedirs(path)
        hashes = pa.array([0] * len(urls), pa.int64())
        pq.write_table(pa.table({"url_hash": hashes, "url": urls}),
                       os.path.join(path, "part-00000.parquet"))


def test_resume_over_old_format_shards(spark, smoke_graph, tmp_path):
    """A state written by older code — a base filter in the dense ``(bucket,
    longs)`` layout, four-field Bloom stamps in ``meta.json``, ``(url_hash,
    url)`` seen deltas — resumes with exact admission until the next
    compaction stores a ``(blk, words)`` filter beside its base — same seen
    set as an uninterrupted (oracle) crawl. The older ``(bucket, filter)``
    layout reads as no filter too."""
    legacy = RoundStore(str(tmp_path / "legacy"))
    old_set = spark.createDataFrame([(0, bytearray(b"\xff" * 8))], "bucket int, filter binary")
    legacy.commit(0, RoundMeta(round=0, priority_base=0, frontier_count=0,
                               bloom=dataclasses.asdict(_bloom())),
                  {"seen_full": spark.createDataFrame([("https://h/",)], "url string"),
                   "shards": old_set})
    assert legacy.read_shards(spark, 0) is None

    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    uninterrupted = crawl_oracle(
        pages_dict(smoke_graph.pages),
        list(smoke_graph.seeds.sort_values("seed_rank")["url"]),
    )

    # compact_every=2: round 2 holds a seen base and the filter beside it
    part_dir = str(tmp_path / "part")
    cfg = _cfg(compact_every=2)
    crawl(spark, pages_path, seeds, None, part_dir, _cfg(compact_every=2, max_rounds=2))
    old = sorted(glob.glob(os.path.join(part_dir, "round_*", "shards*")))
    assert old == [os.path.join(part_dir, "round_000002", "shards")]
    for path in old:
        _to_dense_shard_layout(path, cfg.bloom.bits_per_shard)
    _to_old_meta_and_seen(part_dir)
    store = RoundStore(part_dir)
    assert store.read_shards(spark, 2) is None
    assert store.meta(2).bloom is None  # an old stamp reads as unstamped
    assert store.read_seen(spark, 2).columns == ["url"]

    resumed = crawl(spark, pages_path, seeds, None, part_dir, cfg)
    assert set(_collect(spark, resumed)[0]) == uninterrupted.seen
    store = resumed.store
    later = [k for k in store.committed_rounds() if k > 2]
    assert all(store.meta(k).bloom == dataclasses.asdict(cfg.bloom) for k in later)
    # the dense base set is never trusted; the next base stores a blocked one
    assert store.read_shards(spark, 3) is None
    full_sets = [k for k in store.committed_rounds() if store.newest("shards", k) == k]
    assert full_sets[0] == 2 and len(full_sets) > 1
    assert all(store.newest("seen_full", k) == k for k in full_sets)
    cols = spark.read.parquet(os.path.join(part_dir, f"round_{full_sets[-1]:06d}", "shards")).columns
    assert sorted(cols) == ["blk", "words"]


# -- Bloom spec mismatch / toggle on resume ------------------------------------

def test_resume_with_changed_bloom_spec(spark, smoke_graph, tmp_path):
    """Resuming with different Bloom parameters (or toggling the filter on)
    must never probe a filter built under another spec — never admit
    duplicates from mismatched false negatives."""
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)

    full = crawl(spark, pages_path, seeds, None, str(tmp_path / "full"),
                 CrawlConfig(use_bloom=True, bloom=_bloom()))
    want_seen = sorted(r.url for r in full.seen(spark).collect())

    # spec change mid-crawl
    d1 = str(tmp_path / "spec_change")
    crawl(spark, pages_path, seeds, None, d1,
          CrawlConfig(use_bloom=True, bloom=_bloom(), max_rounds=2))
    out1 = crawl(spark, pages_path, seeds, None, d1,
                 CrawlConfig(use_bloom=True, bloom=_bloom(bits=1 << 14, buckets=4)))
    assert sorted(r.url for r in out1.seen(spark).collect()) == want_seen

    # bloom toggled ON after bloom-less rounds
    d2 = str(tmp_path / "toggle_on")
    crawl(spark, pages_path, seeds, None, d2,
          CrawlConfig(use_bloom=False, max_rounds=2))
    out2 = crawl(spark, pages_path, seeds, None, d2,
                 CrawlConfig(use_bloom=True, bloom=_bloom()))
    assert sorted(r.url for r in out2.seen(spark).collect()) == want_seen

    # spec change on an --update-jar resume: the update transition writes no
    # seen rows, so the next round must still see the old stamp and admit
    # exactly
    d3 = str(tmp_path / "update_spec_change")
    crawl(spark, pages_path, seeds, None, d3,
          CrawlConfig(use_bloom=True, bloom=_bloom(), max_rounds=2))
    out3 = crawl(spark, pages_path, seeds, None, d3,
                 CrawlConfig(use_bloom=True, bloom=_bloom(bits=1 << 20, buckets=4),
                             update_url_prefix=""))
    assert sorted(r.url for r in out3.seen(spark).collect()) == want_seen

    # spec change after a compaction: the filter beside the base carries the
    # old stamp, so the resume admits exactly until the next seen base
    d4 = str(tmp_path / "compacted_spec_change")
    crawl(spark, pages_path, seeds, None, d4,
          CrawlConfig(use_bloom=True, bloom=_bloom(), compact_every=2, max_rounds=2))
    out4 = crawl(spark, pages_path, seeds, None, d4,
                 CrawlConfig(use_bloom=True, bloom=_bloom(bits=1 << 14, buckets=4),
                             compact_every=2))
    assert sorted(r.url for r in out4.seen(spark).collect()) == want_seen
    store = out4.store
    assert store.newest("seen_full", 2) == 2
    later = [k for k in store.committed_rounds() if k > 2]
    assert any(store.newest("seen_full", k) == 2 for k in later)
    assert any(store.newest("seen_full", k) > 2 for k in later)
    for k in later:
        assert (store.read_shards(spark, k) is None) == (store.newest("seen_full", k) == 2), k


def test_resume_with_changed_seen_buckets(spark, smoke_graph, tmp_path):
    """The bucketed base must be read with the bucket count it was WRITTEN
    with (RoundMeta), not the resuming config's — declaring B'≠B over
    B-bucket files would silently break the anti-join co-partitioning and
    admit already-seen URLs."""
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)

    def cfg(buckets, max_rounds=1000):
        return CrawlConfig(use_bloom=True, bloom=_bloom(), compact_every=2,
                           seen_buckets=buckets, max_rounds=max_rounds)

    full = crawl(spark, pages_path, seeds, None, str(tmp_path / "full"), cfg(4))
    want = sorted(r.url for r in full.seen(spark).collect())

    d = str(tmp_path / "resume")
    crawl(spark, pages_path, seeds, None, d, cfg(4, max_rounds=3))  # base @2: 4 buckets
    out = crawl(spark, pages_path, seeds, None, d, cfg(8))  # resume: 8 buckets
    assert sorted(r.url for r in out.seen(spark).collect()) == want


# -- crash-safe compaction ------------------------------------------------------

def test_partial_compaction_tmp_is_ignored(spark, smoke_graph, tmp_path):
    """A compaction killed mid-write leaves only the temp dir; the seen view
    must keep reading base+deltas as if the compaction never ran."""
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom(), compact_every=2)

    d = str(tmp_path / "state")
    crawl(spark, pages_path, seeds, None, d, CrawlConfig(
        use_bloom=True, bloom=_bloom(), compact_every=2, max_rounds=3))
    # simulate a crash mid-compaction at the next compaction round
    junk = os.path.join(d, "round_000003", "_seen_full_tmp")
    os.makedirs(junk, exist_ok=True)
    with open(os.path.join(junk, "part-00000.parquet"), "wb") as f:
        f.write(b"not parquet")
    resumed = crawl(spark, pages_path, seeds, None, d, cfg)

    full = crawl(spark, pages_path, seeds, None, str(tmp_path / "full"), cfg)
    assert sorted(r.url for r in resumed.seen(spark).collect()) == sorted(
        r.url for r in full.seen(spark).collect()
    )
    shutil.rmtree(junk, ignore_errors=True)


def test_uncommitted_seen_full_swept_on_resume(spark, smoke_graph, tmp_path):
    """A crash mid-update-transition leaves an uncommitted round dir holding
    a complete-looking (purged!) seen_full; re-running the round must sweep
    it — committing around it would silently shadow the real seen set."""
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom())

    d = str(tmp_path / "state")
    crawl(spark, pages_path, seeds, None, d, CrawlConfig(
        use_bloom=True, bloom=_bloom(), max_rounds=2))
    # fake the aborted transition: an uncommitted round_3 with a bogus base
    bogus = os.path.join(d, "round_000003", "seen_full")
    os.makedirs(bogus, exist_ok=True)
    spark.createDataFrame(
        [(0, "https://bogus.example.com/")], "url_hash long, url string"
    ).repartition(1).write.mode("overwrite").parquet(bogus)

    resumed = crawl(spark, pages_path, seeds, None, d, cfg)
    full = crawl(spark, pages_path, seeds, None, str(tmp_path / "full"), cfg)
    got = sorted(r.url for r in resumed.seen(spark).collect())
    assert got == sorted(r.url for r in full.seen(spark).collect())
    assert "https://bogus.example.com/" not in got


def test_relative_root_keeps_seen_base(spark, tmp_path, monkeypatch):
    """A store opened on a relative path finds the seen base it committed:
    its paths must not resolve against the session's warehouse dir (the
    bucketed writer's table path) or the JVM's working directory instead of
    this process's."""
    monkeypatch.chdir(tmp_path)
    store = RoundStore("rel")
    seen = spark.createDataFrame([(f"https://h/{i}/",) for i in range(5)], "url string")
    domains = spark.createDataFrame([], DOMAINS_SCHEMA)
    store.commit(1, RoundMeta(round=1, priority_base=0, frontier_count=0),
                 {"seen_full": seen, "domains": domains})
    assert store.newest("seen_full", 1) == 1
    assert store.read_seen(spark, 1).count() == 5


def test_quoted_root_reads_seen_base(spark, tmp_path):
    """A state dir whose path holds a quote reads its bucketed seen base
    back: the path is a string literal in the base table's DDL."""
    store = RoundStore(str(tmp_path / "o'brien"))
    seen = spark.createDataFrame([(f"https://h/{i}/",) for i in range(5)], "url string")
    store.commit(1, RoundMeta(round=1, priority_base=0, frontier_count=0),
                 {"seen_full": seen})
    assert store.read_seen_base(spark, 1).count() == 5


# -- run_log (reference /root/reference/ddl/0_run_log.sql) --------------------

def test_run_log_brackets_each_invocation(spark, smoke_graph, tmp_path):
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    d = str(tmp_path / "state")

    first = crawl(spark, pages_path, seeds, None, d, _cfg(max_rounds=2))
    second = crawl(spark, pages_path, seeds, None, d, _cfg())
    rows = {r.seq: r for r in second.run_log(spark).collect()}
    assert rows[0].exit_status == "OK" and rows[0].start_round == 0
    assert rows[0].end_round == first.final_round
    assert rows[1].exit_status == "OK"
    assert rows[1].start_round == first.final_round
    assert rows[1].end_round == second.final_round
    assert rows[0].started_at is not None and rows[0].ended_at is not None


def test_run_log_closes_killed_run_on_resume(spark, smoke_graph, tmp_path):
    """A run that died before its end event (kill -9 analog) is closed as
    KILLED at the latest committed round by the next invocation."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    d = str(tmp_path / "state")

    truncated = crawl(spark, pages_path, seeds, None, d, _cfg(max_rounds=2))
    store = RoundStore(d)
    store.log_run_start("killed_run", truncated.final_round)  # dangling start

    resumed = crawl(spark, pages_path, seeds, None, d, _cfg())
    rows = {r.seq: r for r in resumed.run_log(spark).collect()}
    killed = rows[1]
    assert killed.run_id == "killed_run"
    assert killed.exit_status == "KILLED"
    assert killed.end_round == truncated.final_round  # closed at last commit
    assert rows[2].exit_status == "OK"
    assert rows[2].end_round == resumed.final_round


# -- update (re-process) modes: resume a finished state -------------------------

def test_update_domain_reopens_and_recrawls(spark, smoke_graph, tmp_path):
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom())
    d = str(tmp_path / "state")

    first = crawl(spark, pages_path, seeds, None, d, cfg)
    want_seen = sorted(r.url for r in first.seen(spark).collect())
    want_res = sorted((r.url, r.text) for r in first.results(spark).collect())
    k1 = first.final_round

    cfg2 = CrawlConfig(use_bloom=True, bloom=_bloom(),
                       update_domains=["host0.example.com"])
    second = crawl(spark, pages_path, seeds, None, d, cfg2)
    assert second.final_round > k1  # the host actually re-crawled
    # deterministic pages ⇒ identical final seen set and results
    assert sorted(r.url for r in second.seen(spark).collect()) == want_seen
    assert sorted((r.url, r.text) for r in second.results(spark).collect()) == want_res
    doms = {r.host: r.status for r in second.domains(spark).collect()}
    assert doms["host0.example.com"] == "COMPLETED"
    _assert_committed_rounds_immutable(second.store)


def test_update_domain_reseeds_normalized_roots(spark, smoke_graph, tmp_path):
    """--update-domain under --normalize-urls re-seeds the host's root in
    the same normalized form the first crawl seeded and purged it in: an
    un-normalized re-seed of a ``:443`` seed matches no host, and the purged
    domain is never crawled again."""
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    raw = smoke_graph.seeds.copy()
    raw["url"] = raw["url"].str.replace(".example.com/", ".example.com:443/")
    seeds = spark.createDataFrame(raw)
    d = str(tmp_path / "state")

    first = crawl(spark, pages_path, seeds, None, d,
                  CrawlConfig(bloom=_bloom(), normalize_urls=True, max_rounds=1))
    roots = [r.url for r in first.frontier(spark, 0).collect()
             if r.host == "host0.example.com"]
    assert len(roots) == 1 and ":443" not in roots[0]

    cfg2 = CrawlConfig(bloom=_bloom(), normalize_urls=True, max_rounds=2,
                       update_domains=["host0.example.com"])
    second = crawl(spark, pages_path, seeds, None, d, cfg2)
    assert second.final_round == first.final_round + 1
    assert roots[0] in {r.url for r in second.frontier(spark, second.final_round).collect()}


def test_update_jar_restamps_results(spark, smoke_graph, tmp_path):
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    cfg = CrawlConfig(use_bloom=True, bloom=_bloom())
    d = str(tmp_path / "state")

    first = crawl(spark, pages_path, seeds, None, d, cfg)
    before = {r.url: (r.text, r.round) for r in first.results(spark).collect()}
    prefix = "https://host0.example.com/maven2/d0s0/"
    cfg2 = CrawlConfig(use_bloom=True, bloom=_bloom(), update_url_prefix=prefix)
    second = crawl(spark, pages_path, seeds, None, d, cfg2)
    after = {r.url: (r.text, r.round) for r in second.results(spark).collect()}

    assert set(after) == set(before)  # one row per url (newest wins), no dups
    bumped = [u for u in after if u.startswith(prefix)]
    assert bumped
    for u, (text, rnd) in after.items():
        assert text == before[u][0]  # byte-identical re-extraction
        if u.startswith(prefix):
            assert rnd == first.final_round + 1
        else:
            assert rnd == before[u][1]


def test_update_jar_refetch_failure_is_logged(spark, smoke_graph, tmp_path):
    """--update-jar targets missing from pages must produce fetch_failed
    error rows (not silently keep the stale result row without trace)."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    d = str(tmp_path / "state")
    first = crawl(spark, pages_path, seeds, None, d, _cfg())
    res = first.results(spark).select("url").collect()
    prefix = "https://host0.example.com/maven2/d0s0/"
    victims = sorted(r.url for r in res if r.url.startswith(prefix))
    assert victims

    # drop one recorded result url from pages, then update-jar the prefix
    pages2 = smoke_graph.pages[smoke_graph.pages.url != victims[0]]
    pages2_path = str(tmp_path / "pages2.parquet")
    pages2.to_parquet(pages2_path, index=False)
    second = crawl(spark, pages2_path, seeds, None, d,
                   _cfg(update_url_prefix=prefix))
    errs = [
        r for r in second.errors(spark).collect()
        if r.round == first.final_round + 1
    ]
    assert [r.url for r in errs] == [victims[0]]
    det = json.loads(errs[0].details)
    assert det == {"stage_ctx": "update_jar", "prefix": prefix}
    # the stale row is retained (newest-wins keeps the old round's row)
    before = {r.url: r.round for r in first.results(spark).collect()}
    after = {r.url: r.round for r in second.results(spark).collect()}
    assert after[victims[0]] == before[victims[0]]


def test_update_domain_new_host_stamped_immediately(spark, smoke_graph, tmp_path):
    """An --update-domain host whose seed is new (no prior domain row) gets
    its IN_PROGRESS/start_round row in the SAME transition round, not one
    round late."""
    pages_path = _write_pages(smoke_graph, tmp_path)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    d = str(tmp_path / "state")
    first = crawl(spark, pages_path, seeds, None, d, _cfg())
    k1 = first.final_round

    # second host appears only in the update invocation's seed list
    host2 = "host9.example.com"
    seeds2 = spark.createDataFrame(
        pd.concat([
            smoke_graph.seeds,
            pd.DataFrame([{"seed_rank": len(smoke_graph.seeds), "url": f"https://{host2}/maven2/"}]),
        ], ignore_index=True)
    )
    store = RoundStore(d)
    from graven_spark.plans.driver import _reopen_domains

    meta = _reopen_domains(
        spark, store, k1, seeds2, None,
        _cfg(update_domains=["host0.example.com", host2]),
    )
    doms = {r.host: (r.status, r.start_round)
            for r in store.read_domains(spark, meta.round).collect()}
    assert doms["host0.example.com"] == ("IN_PROGRESS", k1 + 1)
    assert doms[host2] == ("IN_PROGRESS", k1 + 1)  # new host: not a round late


# -- frontier-size-adaptive round batching (SURVEY.md §7.4.5) -----------------

def _chain_graph(depth: int):
    """A depth-N chain (fanout 1): every dir has exactly one child dir and
    one leaf — the worst case for per-depth commit overhead."""
    import datetime as dt

    from graven_spark.core import extract_text_py
    from graven_spark.sources.synth import SiteGraph, _dir_html

    rows = []
    url = "https://chain.example.com/maven2/"
    for d in range(depth):
        child = f"d{d}/"
        leaf = f"art{d}-1.0.jar"
        html = _dir_html([child] if d < depth - 1 else [], [leaf], url)
        rows.append({
            "url": url, "warc_ts": dt.datetime(2025, 1, 1),
            "html": html.encode(), "text": extract_text_py(html), "lang": "en",
        })
        leaf_html = f"<html><body><p>doc {d}</p></body></html>"
        rows.append({
            "url": url + leaf, "warc_ts": dt.datetime(2025, 1, 1),
            "html": leaf_html.encode(),
            "text": extract_text_py(leaf_html), "lang": "en",
        })
        url = url + child
    pages = pd.DataFrame(rows)
    pages["warc_ts"] = pages["warc_ts"].astype("datetime64[us]")
    return SiteGraph(
        pages=pages,
        seeds=pd.DataFrame([{"seed_rank": 0, "url": "https://chain.example.com/maven2"}]),
        robots=pd.DataFrame(
            [{"host": "chain.example.com", "disallow_prefixes": [],
              "crawl_delay_tokens": 100}]
        ),
    )


def test_adaptive_batching_deep_chain(spark, tmp_path):
    """Depth-40 chain: batching must commit ≪ 40 round dirs while producing
    the identical seen set / results (incl. logical round stamps) / errors /
    lineage as the oracle."""
    from graven_spark.oracle import crawl_oracle

    from .conftest import pages_dict

    depth = 40
    graph = _chain_graph(depth)
    pages_path = _write_pages(graph, tmp_path)
    seeds = spark.createDataFrame(graph.seeds)
    cfg = _cfg(batch_threshold=64, compact_every=8)
    out = crawl(spark, pages_path, seeds, None, str(tmp_path / "state"), cfg)
    ora = crawl_oracle(pages_dict(graph.pages), [graph.seeds.url[0]])

    store = out.store
    committed = store.committed_rounds()
    assert out.final_round == depth  # logical rounds preserved
    assert len(committed) <= depth // MAX_BATCH_ROUNDS + 2  # dirs ≪ depth
    # the filter is stored only beside the seen base
    assert all(store.newest("shards", k) == store.newest("seen_full", k) for k in committed)
    _assert_committed_rounds_immutable(store)

    assert {r.url for r in out.seen(spark).collect()} == ora.seen
    got_res = sorted(
        (r.url, r.text, r.depth, r.round) for r in out.results(spark).collect()
    )
    want_res = sorted(
        (r["url"], r["text"], r["depth"], r["round"]) for r in ora.results
    )
    assert got_res == want_res
    lin = {
        r["round"]: (r["urls_in"], r["urls_out"], r["bytes_fetched"])
        for r in ora.lineage
    }
    got_lin = {
        r.round: (r.n_in, r.n_out, r.n_bytes)
        for r in out.lineage(spark).groupBy("round").agg(
            F.sum("urls_in").alias("n_in"),
            F.sum("urls_out").alias("n_out"),
            F.sum("bytes_fetched").alias("n_bytes"),
        ).collect()
    }
    assert got_lin == lin


def test_adaptive_batching_equals_plain_on_mini_graph(spark, tmp_path):
    """Batched and unbatched runs over the same multi-host graph produce
    identical seen/results/errors/domains/lineage (per-logical-round)."""
    from graven_spark.sources import synth

    graph = synth.generate_graph(synth.mini_specs())
    pages_path = _write_pages(graph, tmp_path)
    seeds = spark.createDataFrame(graph.seeds)
    plain = crawl(spark, pages_path, seeds, None, str(tmp_path / "plain"), _cfg())
    batched = crawl(
        spark, pages_path, seeds, None, str(tmp_path / "batched"),
        _cfg(batch_threshold=10_000),
    )
    assert len(batched.store.committed_rounds()) < len(plain.store.committed_rounds())
    assert sorted(r.url for r in plain.seen(spark).collect()) == sorted(
        r.url for r in batched.seen(spark).collect()
    )
    for getter in ("results", "errors", "domains"):
        p = sorted(tuple(r) for r in getattr(plain, getter)(spark).collect())
        b = sorted(tuple(r) for r in getattr(batched, getter)(spark).collect())
        assert p == b, getter


def test_batching_resume_mid_batch_crash(spark, tmp_path):
    """A batch killed before its commit leaves an uncommitted dir at a
    strided index; resume must sweep it and reproduce the exact outputs."""
    import shutil

    graph = _chain_graph(24)
    pages_path = _write_pages(graph, tmp_path)
    seeds = spark.createDataFrame(graph.seeds)
    cfg = _cfg(batch_threshold=64)

    full = crawl(spark, pages_path, seeds, None, str(tmp_path / "full"), cfg)

    d = str(tmp_path / "crash")
    crawl(spark, pages_path, seeds, None, d, _cfg(
        batch_threshold=64, max_rounds=8))
    # simulate a crash mid-batch: a partial uncommitted dir at a strided index
    store = RoundStore(d)
    k = store.latest_round()
    junk = os.path.join(d, f"round_{k + 5:06d}")
    os.makedirs(os.path.join(junk, "results_delta"), exist_ok=True)
    with open(os.path.join(junk, "results_delta", "part-0.parquet"), "wb") as f:
        f.write(b"not parquet")

    resumed = crawl(spark, pages_path, seeds, None, d, cfg)
    assert not os.path.exists(junk) or os.path.exists(os.path.join(junk, "_COMMIT"))
    assert sorted(r.url for r in resumed.seen(spark).collect()) == sorted(
        r.url for r in full.seen(spark).collect()
    )
    assert sorted(tuple(r) for r in resumed.results(spark).collect()) == sorted(
        tuple(r) for r in full.results(spark).collect()
    )
    shutil.rmtree(junk, ignore_errors=True)
