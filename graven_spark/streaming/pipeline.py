"""Streaming stages over arriving pages/events.

- :func:`stream_extract` — readStream over a pages directory → Arrow-UDF
  text extraction → append sink. The downloader/extractor stages of the
  reference pipeline as a continuous flow (the crawler's frontier recursion
  itself stays in the round driver: recursive self-feeding is not a
  streaming-source shape).
- :func:`windowed_rates` — tumbling-window throughput stats with a
  watermark: the streaming analog of the reference's per-stage counters
  (/root/reference/graven/shared/timer.py:47-57).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.extract import extract_text

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def _read_pages_stream(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int
) -> DataFrame:
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(pages_dir)
    )


def _extract_projection(pages: DataFrame) -> DataFrame:
    """THE sink row shape (url, text, lang, warc_ts) — single definition so
    the plain and --budget paths can never drift apart."""
    return pages.select(
        "url", extract_text(F.col("html")).alias("text"), "lang", "warc_ts"
    )


def stream_extract(
    spark: SparkSession, pages_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """Streaming DataFrame: pages → (url, text, lang, warc_ts) via the
    Arrow UDF."""
    return _extract_projection(
        _read_pages_stream(spark, pages_dir, max_files_per_trigger)
    )


def windowed_rates(pages_stream: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling-window page counts with late-data watermark."""
    return (
        pages_stream.withWatermark("warc_ts", "2 hours")
        .groupBy(F.window("warc_ts", window), "lang")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("window.start").alias("win_start"),
            "lang",
            "n_pages",
        )
    )


_WINDOW_UNITS = {
    "second": 1, "seconds": 1, "minute": 60, "minutes": 60,
    "hour": 3600, "hours": 3600, "day": 86400, "days": 86400,
}


def _window_seconds(window: str | int) -> int:
    """A budget window in seconds (``90`` or ``"15 minutes"``): ValueError
    when malformed or not positive, KeyError on an unknown unit."""
    if not isinstance(window, int):
        n, _, unit = window.strip().partition(" ")
        if not n.isdigit():
            raise ValueError(f'budget window must read "<n> <unit>", got {window!r}')
        unit = unit.strip()
        if unit not in _WINDOW_UNITS:
            raise KeyError(f"unknown budget window unit {unit!r}, use {', '.join(_WINDOW_UNITS)}")
        window = int(n) * _WINDOW_UNITS[unit]
    if window <= 0:
        raise ValueError(f"budget window must be positive, got {window}")
    return window


def stream_host_budget(
    pages_stream: DataFrame, budget: int, window: str | int | None = None
) -> DataFrame:
    """Custom stateful operator (north_rule: "applyInPandasWithState for
    custom stateful operators"): per-host fetch-budget enforcement whose
    token count PERSISTS ACROSS MICRO-BATCHES — the streaming form of the
    batch token bucket (operators/politeness.py W3).

    ``window=None``: lifetime budget (tokens never refresh). With a window
    (e.g. ``"1 hour"``), tokens REFRESH per event-time tumbling window —
    the streaming analog of the batch driver's per-ROUND budget: each
    window is a round with a fresh allowance, and a window's consumption
    spans micro-batches. State per host is (current window start, tokens
    consumed in it); rows later than the state's window roll it forward and
    reset the count; stragglers from already-passed windows draw from the
    current window's allowance (conservative: late data can never overspend
    a closed window). Each batch admits rows in (warc_ts, url) order. At
    scale state is hash-partitioned by host and checkpointed by the engine —
    no driver residency.

    State-schema compatibility: the state struct is
    ``(win_start long, taken long)`` since the windowed refresh landed
    (previously ``taken long`` alone). A streaming checkpoint written by the
    old single-field schema CANNOT resume against this operator — restart
    such a query with a fresh checkpoint directory (the state encodes only
    in-window consumption, so the cost is one window's over-admission at
    worst).

    The input must carry ``url``, ``host``, ``warc_ts``; EVERY input column
    passes through for admitted rows (so e.g. ``html`` bytes survive the
    gate and extraction can run downstream of admission — the ``stream``
    CLI's --budget path). State size is unaffected by the extra columns."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    for required in ("url", "host", "warc_ts"):
        if required not in pages_stream.columns:
            raise ValueError(
                f"stream_host_budget input needs column {required!r}; "
                f"got {pages_stream.columns}"
            )
    win_s = None if window is None else _window_seconds(window)
    out_schema = pages_stream.schema

    def admit(key, pdfs, state: GroupState):
        win_start, taken = state.get if state.exists else (-1, 0)
        # a host's micro-batch may arrive as several Arrow chunks: the
        # (warc_ts, url) order must be established over the WHOLE batch
        # before budgeting, or a later chunk's earlier rows lose their slot.
        # Memory bound: one host's rows for one micro-batch.
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf.sort_values(["warc_ts", "url"])
        if win_s is None:
            pdf = pdf.head(max(budget - taken, 0))
            taken += len(pdf)
            state.update((win_start, taken))
            if len(pdf):
                yield pdf
            return
        epoch = (pdf["warc_ts"].astype("int64") // 10**9).to_numpy()
        out = []
        for i in range(len(pdf)):
            row_win = int(epoch[i]) // win_s * win_s
            if row_win > win_start:  # next window: refresh the allowance
                win_start, taken = row_win, 0
            if taken < budget:
                taken += 1
                out.append(i)
        state.update((win_start, taken))
        if out:
            yield pdf.iloc[out]

    return pages_stream.groupBy("host").applyInPandasWithState(
        admit,
        outputStructType=out_schema,
        stateStructType="win_start long, taken long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_extract_to_sink(
    spark: SparkSession,
    pages_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    budget: int | None = None,
    budget_window: str | None = None,
):
    """Exactly-once streaming sink — the streaming analog of the batch
    round-commit protocol (sources/checkpoint.py): each micro-batch's
    extracted rows land under ``batch_NNNNNN/`` with a ``_COMMIT`` marker
    written LAST, via ``foreachBatch`` keyed on the engine's batch_id.

    Exactly-once reasoning: Structured Streaming replays a crashed batch
    with the SAME batch_id (offsets are checkpointed before execution, the
    commit log after), so the writer only needs batch-id idempotence:
    - crash before the sink ``_COMMIT`` → the partial dir is overwritten by
      the replay (mode=overwrite), marker still written last;
    - crash between sink commit and the engine's checkpoint commit → the
      replayed batch sees its own marker and SKIPS the write entirely —
      no duplicate rows;
    - readers (:func:`read_stream_sink`) only see marker-committed dirs.

    The marker records the STREAM's stable query id (the checkpoint's
    ``metadata`` id, unchanged across restarts of the same checkpoint): a
    replay of the SAME query skips its own committed batch, but a FRESH
    checkpoint pointed at a used sink dir — whose batch ids restart at 0 —
    fails loudly instead of silently skipping the new batches into stale
    data.

    With ``budget``, per-host politeness gates the stream BEFORE extraction
    (:func:`stream_host_budget` — the reference crawler's global request
    cap, crawler.py:27, made per-host): at most ``budget`` pages per host —
    per ``budget_window`` tumbling event-time window when given, lifetime
    otherwise — are admitted, with the token count persisting across
    micro-batches AND across restarts of the same checkpoint. Extraction
    runs only on admitted rows (rejected pages never pay the Arrow UDF).

    Runs with ``availableNow`` (drain-what-exists; restart to pick up new
    files). Returns the started StreamingQuery; callers await it."""
    import json as _json
    import os

    from ..functions.canon import host_of

    raw = _read_pages_stream(spark, pages_dir, max_files_per_trigger)
    if budget is not None:
        raw = stream_host_budget(
            raw.withColumn("host", host_of(F.col("url"))), budget, budget_window
        )
    extracted = _extract_projection(raw)

    def query_id() -> str:
        # written by the engine at query start, stable for the checkpoint's
        # lifetime — on disk before the first foreachBatch call runs
        with open(os.path.join(checkpoint_dir, "metadata")) as f:
            return _json.load(f)["id"]

    def write_batch(df: DataFrame, batch_id: int) -> None:
        d = os.path.join(sink_dir, f"batch_{batch_id:06d}")
        marker = os.path.join(d, "_COMMIT")
        qid = query_id()
        if os.path.exists(marker):
            with open(marker) as f:
                committed_by = f.read().strip()
            if committed_by == qid:
                return  # replayed, already-committed batch: exactly-once skip
            if committed_by == "ok":
                # marker written by the pre-query-id code version: it cannot
                # name its query, so a crash-replay of an UPGRADED stream on
                # its original checkpoint must still skip (exactly-once),
                # not wedge. Skipping matches the legacy code's behavior for
                # legacy dirs exactly (no regression); only NEW markers get
                # the different-query protection, so warn that this dir
                # predates it.
                print(
                    f"graven_spark: sink dir {d} carries a legacy (pre-"
                    "query-id) _COMMIT marker; skipping as committed. If "
                    "this is a FRESH stream over a previously-used sink "
                    "dir (not a crash-replay), point it at a fresh sink.",
                    flush=True,
                )
                return
            raise RuntimeError(
                f"sink dir {d} was committed by a different streaming query "
                f"(marker id {committed_by!r}, current query id {qid!r}); "
                "reuse the original checkpoint dir or point at a fresh sink"
            )
        df.write.mode("overwrite").parquet(d)
        with open(marker, "w") as f:
            f.write(qid)

    return (
        extracted.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_stream_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    """Committed batches only (marker present) — a crashed batch's partial
    parquet is invisible, exactly like the batch store's round reader."""
    import os

    paths = sorted(
        os.path.join(sink_dir, d)
        for d in os.listdir(sink_dir)
        if d.startswith("batch_")
        and os.path.exists(os.path.join(sink_dir, d, "_COMMIT"))
    )
    if not paths:
        return spark.createDataFrame(
            [], "url string, text string, lang string, warc_ts timestamp"
        )
    return spark.read.schema(
        "url string, text string, lang string, warc_ts timestamp"
    ).parquet(*paths)


def run_to_memory(spark: SparkSession, df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Drive a streaming query to completion over the currently-available
    files (test/smoke harness) and return the collected sink table."""
    q = (
        df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")
