"""Shared fixtures: one local SparkSession per test session, synthetic
graphs, oracle-input converters, and the small Bloom spec, crawl config and
pages writer the crawl tests share."""

from __future__ import annotations

import datetime as dt
import sys
from pathlib import Path

import pandas as pd
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from graven_spark.operators.bloom import BloomSpec  # noqa: E402
from graven_spark.plans.frontier import CrawlConfig  # noqa: E402
from graven_spark.session import build_session  # noqa: E402
from graven_spark.sources import synth  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = build_session(master="local[4]", shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": "4g"})
    yield s
    s.stop()


@pytest.fixture(scope="session")
def smoke_graph() -> synth.SiteGraph:
    return synth.generate_graph(synth.smoke_specs(), host_budget=5)


@pytest.fixture(scope="session")
def t2_graph() -> synth.SiteGraph:
    return synth.generate_graph(synth.correctness_specs(), host_budget=200)


def pages_dict(pages: pd.DataFrame) -> dict[str, dict]:
    return {
        r.url: {"html": r.html, "warc_ts": r.warc_ts.to_pydatetime(), "lang": r.lang}
        for r in pages.itertuples()
    }


def robots_dict(robots: pd.DataFrame) -> dict[str, dict]:
    return {
        r.host: {
            "disallow_prefixes": list(r.disallow_prefixes),
            "crawl_delay_tokens": int(r.crawl_delay_tokens),
        }
        for r in robots.itertuples()
    }


def _bloom(bits: int = 1 << 16, buckets: int = 8) -> BloomSpec:
    return BloomSpec(n_buckets=buckets, bits_per_shard=bits)


def _cfg(**kw) -> CrawlConfig:
    return CrawlConfig(use_bloom=True, bloom=_bloom(buckets=4), **kw)


def _results_df(spark, n=6):
    """Minimal crawl-results-shaped input for the enrichment stages."""
    rows = [
        (f"https://host0.example.com/maven2/g{i % 2}/art{i}/1.{i}/art{i}-1.{i}.jar",
         dt.datetime(2024, 1, 1 + i))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "url string, publish_ts timestamp")


def _write_pages(graph: synth.SiteGraph, tmp_path) -> str:
    pages_path = str(tmp_path / "pages.parquet")
    graph.pages.to_parquet(pages_path, index=False)
    return pages_path


@pytest.fixture(scope="session")
def testdata_dir() -> str:
    return "/root/testdata/sf0.001"
