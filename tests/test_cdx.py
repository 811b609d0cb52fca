"""CDX(J) index ingestion: pure/Spark parity, malformed-line handling,
seed derivation."""

from __future__ import annotations

import gzip

from graven_spark.sources import cdx


def _fixture_lines() -> list[str]:
    return [
        'com,a)/ 20240102030405 {"url": "https://a.com/", "mime": "text/html", '
        '"status": "200", "digest": "sha1:AAA", "length": "120", "offset": "0", '
        '"filename": "crawl/seg-00000.warc.gz"}',
        # later re-capture of the same url (first capture must win the seed)
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
        '"status": "200"}',  # sparse but valid JSON
        'com,bad)/ 20240105000000 {"url": broken json}',
        "not a cdx line at all",
        # 14 digits but an impossible month -> ts nulls, row still parses
        'com,e)/ 20241399000000 {"url": "https://e.com/", "mime": "text/html", '
        '"status": "200", "digest": "sha1:EEE", "length": "1", "offset": "2", '
        '"filename": "crawl/seg-00003.warc.gz"}',
    ]


def test_read_cdx_matches_pure_parser(spark, tmp_path):
    p = tmp_path / "cdx-00000.gz"
    p.write_bytes(gzip.compress("\n".join(_fixture_lines()).encode()))
    got = sorted(
        (r.asDict() for r in cdx.read_cdx(spark, str(p)).collect()),
        key=lambda r: (r["urlkey"] is None, str(r["urlkey"]), str(r["fetch_ts"])),
    )
    exp = sorted(
        (cdx.parse_cdx_line(ln) for ln in _fixture_lines()),
        key=lambda r: (r["urlkey"] is None, str(r["urlkey"]), str(r["fetch_ts"])),
    )
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        assert g == e, (g, e)


def test_read_cdx_malformed_flags():
    rows = [cdx.parse_cdx_line(ln) for ln in _fixture_lines()]
    flags = [r["parse_failed"] for r in rows]
    assert flags == [False, False, False, False, False, True, True, False]
    assert rows[-1]["fetch_ts"] is None  # impossible month nulls the ts only


def test_seeds_from_cdx_first_capture_and_filters(spark, tmp_path):
    p = tmp_path / "cdx-00000"
    p.write_text("\n".join(_fixture_lines()))
    seeds = {r.url: r.priority
             for r in cdx.seeds_from_cdx(cdx.read_cdx(spark, str(p))).collect()}
    # only html-200 with a url survive; a.com keeps its FIRST capture;
    # e.com's unknown capture time sorts last (sentinel priority)
    assert set(seeds) == {"https://a.com/", "https://d.com/", "https://e.com/"}
    from datetime import datetime, timezone

    first = datetime(2024, 1, 2, 3, 4, 5, tzinfo=timezone.utc)
    assert seeds["https://a.com/"] == int(first.timestamp())
    assert seeds["https://e.com/"] == 1 << 62


def test_seeds_from_cdx_limit_topk(spark, tmp_path):
    p = tmp_path / "cdx-00000"
    p.write_text("\n".join(_fixture_lines()))
    got = cdx.seeds_from_cdx(cdx.read_cdx(spark, str(p)), limit=1).collect()
    assert [r.url for r in got] == ["https://a.com/"]  # earliest first capture


def test_cli_crawl_with_cdx_seeds(spark, smoke_graph, tmp_path):
    """--cdx-seeds bootstraps a crawl with no seed file: index-derived
    seeds in first-capture order drive the same engine path."""
    import os

    from graven_spark.__main__ import main

    pages = str(tmp_path / "pages.parquet")
    smoke_graph.pages.to_parquet(pages, index=False)
    seeds = smoke_graph.seeds.sort_values("seed_rank")["url"].tolist()
    lines = [
        f'x)/{i} 202401{i + 1:02d}000000 '
        f'{{"url": "{u}", "mime": "text/html", "status": "200"}}'
        for i, u in enumerate(seeds)
    ]
    cdxp = tmp_path / "cdx-00000"
    cdxp.write_text("\n".join(lines))
    state = str(tmp_path / "state")
    rc = main([
        "crawl", "--pages", pages, "--cdx-seeds", str(cdxp), "--state", state,
        "--bloom-buckets", "2", "--bloom-bits", "65536",
    ])
    assert rc == 0
    assert os.path.exists(os.path.join(state, "round_000000", "_COMMIT"))


def test_cli_appended_seed_ranks_unique(spark, tmp_path):
    """Sitemap seeds, then CDX seeds, appended after a seed file: the
    sitemap's anti-join drops a url the seed file already holds, and the CDX
    seeds must still rank after every sitemap seed — each round-0 priority
    is distinct."""
    import datetime as dt

    import pandas as pd

    from graven_spark.__main__ import main
    from graven_spark.sources.checkpoint import RoundStore
    from graven_spark.sources.synth import generate_graph, mini_specs

    g = generate_graph(mini_specs())
    roots = sorted(g.seeds["url"])
    host0, host1 = roots[0], roots[1]
    h0 = host0.split("/")[2]
    a, b, c = sorted(u for u in g.pages["url"] if "host2." in u)[:3]
    sitemap = "".join(f"<url><loc>{u}</loc></url>" for u in (host1, a, b))
    extra = pd.DataFrame([
        {"url": u, "warc_ts": dt.datetime(2024, 1, 1), "html": body,
         "text": "", "lang": "en"}
        for u, body in [
            (f"https://{h0}/robots.txt", b"User-agent: *\nDisallow:\n"
             b"Sitemap: https://%s/sm.xml\n" % h0.encode()),
            (f"https://{h0}/sm.xml", f"<urlset>{sitemap}</urlset>".encode()),
        ]
    ])
    pages = str(tmp_path / "pages.parquet")
    combined = pd.concat([g.pages, extra], ignore_index=True)
    combined["warc_ts"] = combined["warc_ts"].astype("datetime64[us]")
    combined.to_parquet(pages, index=False)
    seeds = tmp_path / "seeds.csv"
    seeds.write_text(f"{host0}\n{host1}\n")
    cdxp = tmp_path / "cdx-00000"
    cdxp.write_text(f'x)/c 20240101000000 {{"url": "{c}", "mime": "text/html", '
                    '"status": "200"}')
    state = str(tmp_path / "state")
    assert main([
        "crawl", "--pages", pages, "--seeds", str(seeds), "--state", state,
        "--robots-rfc", "--sitemap-seeds", "--cdx-seeds", str(cdxp),
        "--max-rounds", "0",
    ]) == 0
    prio = [r.priority
            for r in RoundStore(state).read_frontier(spark, 0).collect()]
    assert len(prio) == 5
    assert len(set(prio)) == len(prio), sorted(prio)
