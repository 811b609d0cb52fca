"""CLI surface (python -m graven_spark …): crawl from a CSV seed file,
resume via state dir, export results — the reference's ``graven run`` /
``graven export`` entry points (/root/reference/graven/__main__.py)."""

from __future__ import annotations

import json
import os

import pytest

from graven_spark.__main__ import main, read_seeds

from .conftest import _write_pages


def test_read_seeds_csv_order(spark, tmp_path):
    p = tmp_path / "seeds.csv"
    p.write_text("https://b.example.com/r\nhttps://a.example.com/r\n")
    rows = read_seeds(spark, str(p)).orderBy("seed_rank").collect()
    assert [(r.seed_rank, r.url) for r in rows] == [
        (0, "https://b.example.com/r"),
        (1, "https://a.example.com/r"),
    ]  # file order = priority (cli_parser.py:246-259 semantics)


@pytest.mark.parametrize("flag, value, message", [
    ("--bloom-bits", "3000", "power of two"),
    ("--jar-limit", "0", "jar_limit must be >= 1"),
], ids=["bloom_bits", "jar_limit"])
def test_cli_rejects_bad_bloom_bits(tmp_path, capsys, flag, value, message):
    """A Bloom size the probe cannot serve, or a config no crawl can finish,
    is a usage error, raised before any Spark session starts."""
    with pytest.raises(SystemExit) as exc:
        main(["crawl", "--pages", "p", "--seeds", "s", "--state", str(tmp_path),
              flag, value])
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


@pytest.mark.parametrize("flags, message", [
    ([], "one of --seeds / --sitemap-seeds / --cdx-seeds is required"),
    (["--sitemap-seeds"], "--sitemap-seeds requires --robots-rfc"),
    (["--seeds", "s", "--robots", "r", "--robots-rfc"],
     "--robots and --robots-rfc are mutually exclusive"),
    (["--seeds", "s", "--seen-buckets", "0"], "seen_buckets must be >= 1"),
    (["--seeds", "s", "--budget", "0"], "default_budget must be >= 1"),
], ids=["no_seeds", "sitemap_without_rfc", "robots_and_rfc", "seen_buckets_zero",
        "budget_zero"])
def test_cli_usage_errors_before_session(tmp_path, capsys, monkeypatch, flags, message):
    """Flag combinations no crawl can run exit 2 before a session starts."""
    def no_session(**_kw):
        raise AssertionError("build_session called")

    monkeypatch.setattr("graven_spark.__main__.build_session", no_session)
    with pytest.raises(SystemExit) as exc:
        main(["crawl", "--pages", "p", "--state", str(tmp_path), *flags])
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


@pytest.mark.parametrize("flags, message", [
    (["--budget", "2", "--budget-window", "1h"], 'must read "<n> <unit>"'),
    (["--budget", "2", "--budget-window", "2 weeks"], "unknown budget window unit 'weeks'"),
    (["--budget", "2", "--budget-window", "0 seconds"], "must be positive"),
    (["--budget-window", "1 hour"], "--budget-window requires --budget"),
], ids=["no_unit", "unknown_unit", "zero", "window_without_budget"])
def test_cli_stream_budget_window_errors_before_session(tmp_path, capsys, monkeypatch,
                                                        flags, message):
    """A stream budget window the stateful operator cannot use exits 2
    before a session starts."""
    def no_session(**_kw):
        raise AssertionError("build_session called")

    monkeypatch.setattr("graven_spark.__main__.build_session", no_session)
    with pytest.raises(SystemExit) as exc:
        main(["stream", "--pages", "p", "--sink", str(tmp_path / "sink"),
              "--checkpoint", str(tmp_path / "ckpt"), *flags])
    assert exc.value.code == 2
    assert message in capsys.readouterr().err


def test_cli_crawl_and_export(spark, smoke_graph, tmp_path):
    pages = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages, index=False)
    seeds_csv = tmp_path / "seeds.csv"
    seeds_csv.write_text(
        "\n".join(smoke_graph.seeds.sort_values("seed_rank")["url"]) + "\n"
    )
    state = str(tmp_path / "state")

    rc = main([
        "crawl", "--pages", pages, "--seeds", str(seeds_csv), "--state", state,
        "--bloom-buckets", "4", "--bloom-bits", str(1 << 16),
    ])
    assert rc == 0
    assert os.path.exists(os.path.join(state, "round_000000", "_COMMIT"))

    out = str(tmp_path / "export")
    rc = main(["export", "--state", state, "--out", out, "--format", "json"])
    assert rc == 0
    rows = []
    for name in os.listdir(out):
        if name.endswith(".json"):
            with open(os.path.join(out, name)) as f:
                rows += [json.loads(line) for line in f if line.strip()]
    assert len(rows) > 50
    assert {"url", "text", "depth", "round"} <= set(rows[0])

    # archive export (reference SBOM-archive analog, graven_database.py:407-448)
    import tarfile
    import zipfile

    zpath = str(tmp_path / "results.zip")
    assert main(["export", "--state", state, "--out", zpath, "--format", "zip"]) == 0
    with zipfile.ZipFile(zpath) as z:
        zrows = []
        for name in z.namelist():
            zrows += [json.loads(ln) for ln in z.read(name).decode().splitlines() if ln.strip()]
    assert len(zrows) == len(rows)

    tpath = str(tmp_path / "results.tar.gz")
    assert main(["export", "--state", state, "--out", tpath, "--format", "tar.gz"]) == 0
    with tarfile.open(tpath, "r:gz") as t:
        trows = []
        for m in t.getmembers():
            trows += [
                json.loads(ln)
                for ln in t.extractfile(m).read().decode().splitlines()
                if ln.strip()
            ]
    assert len(trows) == len(rows)

    # --update-jar re-process keeps one row per url with identical text
    rc = main([
        "crawl", "--pages", pages, "--seeds", str(seeds_csv), "--state", state,
        "--update-jar", "https://host0.example.com/maven2/",
        "--bloom-buckets", "4", "--bloom-bits", str(1 << 16),
    ])
    assert rc == 0
    out2 = str(tmp_path / "export2")
    assert main(["export", "--state", state, "--out", out2, "--format", "json"]) == 0
    rows2 = []
    for name in os.listdir(out2):
        if name.endswith(".json"):
            with open(os.path.join(out2, name)) as f:
                rows2 += [json.loads(line) for line in f if line.strip()]
    assert {r["url"]: r["text"] for r in rows2} == {r["url"]: r["text"] for r in rows}


def test_iceberg_shim_gated(spark):
    """No Iceberg jars in this container: availability probe is honest and
    the shim refuses with an actionable message (parquet store is default)."""
    import pytest

    from graven_spark.sources.catalog import IcebergSeenTable, iceberg_available

    assert iceberg_available(spark) is False
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        IcebergSeenTable(spark, "cat.db.seen")


def test_cli_run_writes_enrichment_tables(spark, smoke_graph, tmp_path):
    from graven_spark.__main__ import main

    pages = _write_pages(smoke_graph, tmp_path)
    seeds_csv = tmp_path / "seeds.csv"
    seeds_csv.write_text(
        "\n".join(smoke_graph.seeds.sort_values("seed_rank")["url"]) + "\n"
    )
    out_dir = str(tmp_path / "enrich")
    rc = main([
        "run", "--pages", pages, "--seeds", str(seeds_csv),
        "--state", str(tmp_path / "state"), "--out", out_dir,
        "--bloom-buckets", "4", "--bloom-bits", str(1 << 16),
    ])
    assert rc == 0
    for name in ("jars", "jar_cve", "cve", "cve_cwe", "cwe", "stage_lineage"):
        assert os.path.exists(os.path.join(out_dir, name)), name
    jars = spark.read.parquet(os.path.join(out_dir, "jars"))
    assoc = spark.read.parquet(os.path.join(out_dir, "jar_cve"))
    assert jars.count() > 0 and assoc.count() > 0
    # assoc FK side: every assoc jar_id exists in the jar table
    assert assoc.join(jars, "jar_id", "left_anti").count() == 0

    # `process` re-runs the enrichment stages over the EXISTING crawl state
    # (reference `graven process`, SURVEY.md §3.3) — same tables out
    out2 = str(tmp_path / "enrich2")
    rc = main(["process", "--state", str(tmp_path / "state"), "--out", out2])
    assert rc == 0
    assoc2 = spark.read.parquet(os.path.join(out2, "jar_cve"))
    assert sorted((r.jar_id, r.cve_id) for r in assoc2.collect()) == sorted(
        (r.jar_id, r.cve_id) for r in assoc.collect()
    )
