"""Structured-Streaming surface: file-stream extraction produces the same
rows as the batch path; watermarked windowed rates aggregate correctly;
the host budget holds across micro-batches and CLI invocations; the sink
commits each batch exactly once, keyed on the query id."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from graven_spark.sources import synth
from graven_spark.streaming.pipeline import (
    run_to_memory,
    stream_extract,
    stream_host_budget,
    windowed_rates,
)


def test_stream_extract_matches_golden_text(spark, smoke_graph, tmp_path):
    pages_dir = str(tmp_path / "pages_stream")
    spark.createDataFrame(smoke_graph.pages).repartition(6).write.parquet(pages_dir)

    out = run_to_memory(spark, stream_extract(spark, pages_dir), "stream_extract_t")
    got = {r.url: r.text for r in out.collect()}
    want = dict(zip(smoke_graph.pages.url, smoke_graph.pages.text))
    assert got == want  # byte-identical, same invariant as the batch path


def test_windowed_rates(spark, smoke_graph, tmp_path):
    pages_dir = str(tmp_path / "pages_stream2")
    spark.createDataFrame(smoke_graph.pages).repartition(4).write.parquet(pages_dir)
    stream = stream_extract(spark, pages_dir)
    # complete mode: append would hold back windows the final watermark
    # hasn't passed yet (stream ends before the last window closes)
    out = run_to_memory(spark, windowed_rates(stream, "24 hours"), "win_rates_t",
                        output_mode="complete")
    rows = out.collect()
    assert sum(r.n_pages for r in rows) == len(smoke_graph.pages)
    assert all(r.lang in ("en", "de", "ja") for r in rows)


def test_stream_host_budget_state_spans_batches(spark, t2_graph, tmp_path):
    """Per-host tokens persist across micro-batches: with the 8-host t2
    graph streamed 4 files at a time, each host admits exactly
    min(budget, its page count) in total — impossible without cross-batch
    state (any single batch holds only a slice of a host's pages)."""
    pages_dir = str(tmp_path / "pages_state")
    pd_pages = t2_graph.pages.assign(host=t2_graph.pages.url.str.split("/").str[2])
    spark.createDataFrame(
        pd_pages[["url", "host", "warc_ts"]]
    ).repartition(12).write.parquet(pages_dir)

    budget = 40
    stream = (
        spark.readStream.schema("url string, host string, warc_ts timestamp")
        .option("maxFilesPerTrigger", 4)
        .parquet(pages_dir)
    )
    out = run_to_memory(
        spark, stream_host_budget(stream, budget), "host_budget_t"
    )
    got = {r.host: r.n for r in out.groupBy("host").agg(F.count("*").alias("n")).collect()}
    want = {
        h: min(budget, int(n)) for h, n in pd_pages.groupby("host").size().items()
    }
    assert got == want


def test_stream_host_budget_windowed_refresh_across_batches(spark, tmp_path):
    """Windowed token refresh: tokens reset per event-time tumbling window
    (the streaming analog of the batch per-round budget), while a single
    window's consumption still spans micro-batches. Window A's rows arrive
    in TWO micro-batches (2 then 2, budget 3 ⇒ the 4th is rejected —
    impossible without cross-batch state); window B refreshes the
    allowance; a window-A straggler in batch 3 sorts before the B rows
    (event-time order), so it is budgeted against the still-current,
    exhausted A window and rejected — late data cannot overspend."""
    import datetime as dt

    import pandas as pd

    host = "h.example.com"
    win_a = dt.datetime(2025, 1, 1, 10, 0)
    win_b = dt.datetime(2025, 1, 1, 11, 0)
    batches = [
        # batch 1: two window-A rows (admitted: tokens 2/3)
        [(f"u{i}", win_a + dt.timedelta(minutes=i)) for i in range(2)],
        # batch 2: two MORE window-A rows — only one slot left
        [(f"u{i}", win_a + dt.timedelta(minutes=i)) for i in range(2, 4)],
        # batch 3: three window-B rows (refresh ⇒ admit all 3)
        # + one window-A straggler (late; draws from exhausted B allowance)
        [(f"v{i}", win_b + dt.timedelta(minutes=i)) for i in range(3)]
        + [("u9", win_a + dt.timedelta(minutes=59))],
    ]
    pages_dir = tmp_path / "pages_win"
    pages_dir.mkdir()
    for i, rows in enumerate(batches):
        pdf = pd.DataFrame(
            [{"url": u, "host": host, "warc_ts": ts} for u, ts in rows]
        )
        pdf["warc_ts"] = pdf["warc_ts"].astype("datetime64[us]")
        pdf.to_parquet(pages_dir / f"b{i}.parquet", index=False)

    stream = (
        spark.readStream.schema("url string, host string, warc_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(pages_dir))
    )
    out = run_to_memory(
        spark, stream_host_budget(stream, budget=3, window="1 hour"),
        "host_budget_win_t",
    )
    got = sorted(r.url for r in out.collect())
    assert got == ["u0", "u1", "u2", "v0", "v1", "v2"]


def test_stream_sink_exactly_once_across_kill_and_resume(spark, smoke_graph, tmp_path):
    """foreachBatch round-commit protocol (stream_extract_to_sink): a batch
    whose sink committed but whose engine checkpoint-commit was lost (the
    kill window between the two) is REPLAYED by Structured Streaming on
    restart with the same batch_id — the marker makes the replay a no-op,
    so the sink holds every page exactly once."""
    import os
    import shutil

    from graven_spark.streaming.pipeline import (
        read_stream_sink,
        stream_extract_to_sink,
    )

    pages_dir = str(tmp_path / "pages_eo")
    sink_dir = str(tmp_path / "sink")
    ckpt_dir = str(tmp_path / "ckpt")
    os.makedirs(pages_dir)
    os.makedirs(sink_dir)
    pages = smoke_graph.pages
    half = len(pages) // 2
    first, second = pages.iloc[:half], pages.iloc[half:]
    spark.createDataFrame(first).repartition(4).write.mode("overwrite").parquet(
        str(tmp_path / "stage1")
    )
    for f in os.listdir(str(tmp_path / "stage1")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(str(tmp_path / "stage1"), f), pages_dir)

    q = stream_extract_to_sink(spark, pages_dir, sink_dir, ckpt_dir,
                               max_files_per_trigger=2)
    q.awaitTermination()
    committed = sorted(
        d for d in os.listdir(sink_dir)
        if os.path.exists(os.path.join(sink_dir, d, "_COMMIT"))
    )
    assert len(committed) >= 2  # several micro-batches actually ran
    rows1 = read_stream_sink(spark, sink_dir).count()
    assert rows1 == len(first)

    # kill simulation: the engine's commit for the LAST batch is lost, the
    # sink's own commit survived — precisely the crash window that breaks
    # at-least-once sinks with duplicates
    last_batch = max(
        int(f) for f in os.listdir(os.path.join(ckpt_dir, "commits"))
        if not f.startswith(".")
    )
    os.remove(os.path.join(ckpt_dir, "commits", str(last_batch)))
    crc = os.path.join(ckpt_dir, "commits", f".{last_batch}.crc")
    if os.path.exists(crc):  # hadoop local-fs checksum sidecar
        os.remove(crc)

    # new files arrive; the resumed query replays the uncommitted batch
    # first, then drains the new data
    spark.createDataFrame(second).repartition(4).write.mode("overwrite").parquet(
        str(tmp_path / "stage2")
    )
    for f in os.listdir(str(tmp_path / "stage2")):
        if f.endswith(".parquet"):
            shutil.copy(os.path.join(str(tmp_path / "stage2"), f), pages_dir)
    q2 = stream_extract_to_sink(spark, pages_dir, sink_dir, ckpt_dir,
                                max_files_per_trigger=2)
    q2.awaitTermination()

    sink = read_stream_sink(spark, sink_dir)
    assert sink.count() == len(pages)  # nothing missing
    assert sink.select("url").distinct().count() == len(pages)  # no dupes
    got = {r.url: r.text for r in sink.collect()}
    want = dict(zip(pages.url, pages.text))
    assert got == want


def test_cli_stream_drain_and_incremental(spark, smoke_graph, tmp_path):
    """`stream` drains what exists into committed batch dirs; a second
    invocation with the same checkpoint picks up only new files (no dupes)."""
    from graven_spark.__main__ import main
    from graven_spark.streaming.pipeline import read_stream_sink

    pages_dir = str(tmp_path / "pages")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    half = len(smoke_graph.pages) // 2
    spark.createDataFrame(smoke_graph.pages.iloc[:half]).coalesce(2).write.mode(
        "append").parquet(pages_dir)
    assert main(["stream", "--pages", pages_dir, "--sink", sink,
                 "--checkpoint", ckpt]) == 0
    assert read_stream_sink(spark, sink).count() == half

    spark.createDataFrame(smoke_graph.pages.iloc[half:]).coalesce(2).write.mode(
        "append").parquet(pages_dir)
    assert main(["stream", "--pages", pages_dir, "--sink", sink,
                 "--checkpoint", ckpt]) == 0
    out = read_stream_sink(spark, sink)
    assert out.count() == len(smoke_graph.pages)
    assert out.select("url").distinct().count() == len(smoke_graph.pages)


def test_cli_stream_budget_windowed(spark, smoke_graph, tmp_path):
    """`stream --budget N --budget-window W`: per-host admission ≤ N per
    event-time window, enforced ACROSS micro-batches (files arrive 1 per
    trigger) and across CLI invocations sharing the checkpoint."""
    import pandas as pd

    from graven_spark.__main__ import main
    from graven_spark.streaming.pipeline import read_stream_sink

    win_a = dt.datetime(2025, 1, 1, 10, 0)
    win_b = dt.datetime(2025, 1, 1, 11, 0)
    base = smoke_graph.pages.iloc[:16].reset_index(drop=True)

    def group(idx, win, file_no):
        # one file of 4 same-window rows (event-time order across files:
        # file order = write order via mtime, so windows advance cleanly)
        return pd.DataFrame({
            "url": [f"https://bud.example.com/maven2/f{file_no}p{i}" for i in idx],
            "warc_ts": [win + dt.timedelta(minutes=file_no * 10 + i) for i in idx],
            "html": base["html"].iloc[list(idx)].values,
            "text": base["text"].iloc[list(idx)].values,
            "lang": base["lang"].iloc[list(idx)].values,
        })

    pages_dir = str(tmp_path / "pages")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    argv = ["stream", "--pages", pages_dir, "--sink", sink,
            "--checkpoint", ckpt, "--max-files-per-trigger", "1",
            "--budget", "3", "--budget-window", "1 hour"]

    # invocation 1: one window-A file, then one window-B file (2 triggers)
    for fno, win in ((0, win_a), (1, win_b)):
        spark.createDataFrame(group(range(4), win, fno)).coalesce(1).write.mode(
            "append").parquet(pages_dir)
    assert main(argv) == 0
    # 4 rows per window, budget 3 per window ⇒ 3 + 3 admitted
    assert read_stream_sink(spark, sink).count() == 6

    # invocation 2: 4 MORE rows in each already-exhausted window — the
    # checkpointed state rejects every one (cross-invocation enforcement)
    for fno, win in ((2, win_a), (3, win_b)):
        spark.createDataFrame(group(range(4), win, fno)).coalesce(1).write.mode(
            "append").parquet(pages_dir)
    assert main(argv) == 0
    out = read_stream_sink(spark, sink).collect()
    assert len(out) == 6
    assert all(r.text is not None for r in out)


def test_stream_sink_foreign_query_fails_loudly(spark, smoke_graph, tmp_path):
    from graven_spark.streaming.pipeline import (
        read_stream_sink,
        stream_extract_to_sink,
    )

    pages_dir = str(tmp_path / "pages")
    sink = str(tmp_path / "sink")
    spark.createDataFrame(smoke_graph.pages).coalesce(2).write.parquet(pages_dir)
    q = stream_extract_to_sink(spark, pages_dir, sink, str(tmp_path / "ckptA"))
    q.awaitTermination()
    n = read_stream_sink(spark, sink).count()
    assert n == len(smoke_graph.pages)

    # a FRESH checkpoint restarts batch ids at 0: reusing the sink dir must
    # fail loudly, not silently skip the new batches into the stale marker
    q2 = stream_extract_to_sink(spark, pages_dir, sink, str(tmp_path / "ckptB"))
    with pytest.raises(Exception, match="different streaming query"):
        q2.awaitTermination()
    assert read_stream_sink(spark, sink).count() == n  # stale data untouched


def test_stream_sink_legacy_ok_marker_skips_with_no_regression(
    spark, smoke_graph, tmp_path
):
    """Pre-query-id _COMMIT markers ('ok') must not wedge a restart: the
    batch is skipped exactly as the legacy code would have, and the stale
    rows stay readable."""
    from graven_spark.streaming.pipeline import (
        read_stream_sink,
        stream_extract_to_sink,
    )

    pages_dir = str(tmp_path / "pages")
    sink = str(tmp_path / "sink")
    spark.createDataFrame(smoke_graph.pages).coalesce(2).write.parquet(pages_dir)
    q = stream_extract_to_sink(spark, pages_dir, sink, str(tmp_path / "ckptA"))
    q.awaitTermination()
    n = read_stream_sink(spark, sink).count()
    # rewrite every marker to the legacy content
    for d in os.listdir(sink):
        with open(os.path.join(sink, d, "_COMMIT"), "w") as f:
            f.write("ok")
    # a replay against the legacy markers (fresh checkpoint = same batch
    # ids) skips instead of raising, leaving the committed rows intact
    q2 = stream_extract_to_sink(spark, pages_dir, sink, str(tmp_path / "ckptB"))
    q2.awaitTermination()
    assert read_stream_sink(spark, sink).count() == n
