"""Checkpoint/resume semantics (SURVEY.md §5.3; north_rule: "a killed job
resumes mid-crawl with identical downstream ordering"). Mirrors the
reference's status-reset re-claim resume
(/root/reference/graven/db/graven_database.py:159-165)."""

from __future__ import annotations

import glob
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from graven_spark.oracle import crawl_oracle
from graven_spark.plans.driver import crawl
from graven_spark.plans.frontier import CrawlConfig
from graven_spark.operators.bloom import BloomSpec
from graven_spark.sources.checkpoint import RoundStore

from .conftest import pages_dict, robots_dict  # noqa: F401


def _cfg(max_rounds: int = 1000) -> CrawlConfig:
    return CrawlConfig(
        use_bloom=True,
        bloom=BloomSpec(n_buckets=4, bits_per_shard=1 << 16),
        max_rounds=max_rounds,
        compact_every=3,  # force a compaction mid-run
    )


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


def _to_old_shard_layout(path: str) -> None:
    """Rewrite a shard artifact as the pre-packed-longs layout: one
    ``(bucket int, filter binary)`` row per bucket, the same bits as
    little-endian bytes."""
    t = pq.read_table(path)
    filters = [np.asarray(w, dtype="<i8").tobytes() for w in t.column("longs").to_pylist()]
    old = pa.table({"bucket": t.column("bucket"), "filter": pa.array(filters, pa.binary())})
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(old, os.path.join(path, "part-00000.parquet"))


def test_resume_over_old_format_shards(spark, smoke_graph, tmp_path):
    """A state whose shards are in the old ``(bucket, filter)`` layout
    resumes by rebuilding them from the seen set (and re-baselining in the
    new layout) — same seen set as an uninterrupted (oracle) crawl."""
    pages_path = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages_path, index=False)
    seeds = spark.createDataFrame(smoke_graph.seeds)
    uninterrupted = crawl_oracle(
        pages_dict(smoke_graph.pages),
        list(smoke_graph.seeds.sort_values("seed_rank")["url"]),
    )

    part_dir = str(tmp_path / "part")
    crawl(spark, pages_path, seeds, None, part_dir, _cfg(max_rounds=2))
    old = sorted(glob.glob(os.path.join(part_dir, "round_*", "shards*")))
    assert old
    for path in old:
        _to_old_shard_layout(path)
    assert RoundStore(part_dir).read_shards(spark, 2) is None

    resumed = crawl(spark, pages_path, seeds, None, part_dir, _cfg())
    assert set(_collect(spark, resumed)[0]) == uninterrupted.seen
    store = RoundStore(part_dir)
    last_full = store.last_full_shards_round(resumed.final_round)
    assert last_full > 2
    assert "longs" in spark.read.parquet(os.path.join(part_dir, f"round_{last_full:06d}", "shards")).columns
