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

from .conftest import _bloom, pages_dict, robots_dict  # noqa: F401


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
    last_full = RoundStore(part_dir).newest("shards", resumed.final_round)
    assert last_full > 2
    assert "longs" in spark.read.parquet(os.path.join(part_dir, f"round_{last_full:06d}", "shards")).columns


# -- Bloom spec mismatch / toggle on resume ------------------------------------

def test_resume_with_changed_bloom_spec(spark, smoke_graph, tmp_path):
    """Resuming with different Bloom parameters (or toggling the filter on)
    must rebuild shards from the full seen set — never admit duplicates from
    mismatched false negatives."""
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
    # shards, so the next round must still see the old spec and rebuild
    d3 = str(tmp_path / "update_spec_change")
    crawl(spark, pages_path, seeds, None, d3,
          CrawlConfig(use_bloom=True, bloom=_bloom(), max_rounds=2))
    out3 = crawl(spark, pages_path, seeds, None, d3,
                 CrawlConfig(use_bloom=True, bloom=_bloom(bits=1 << 20, buckets=4),
                             update_url_prefix=""))
    assert sorted(r.url for r in out3.seen(spark).collect()) == want_seen


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
