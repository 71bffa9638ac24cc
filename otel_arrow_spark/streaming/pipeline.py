"""Structured Streaming form of the parse→enrich→route pipeline.

The reference is a continuous dataflow: receivers push micro-batches
through processors to exporters, flushing on size/timer
(`crates/otap/src/otap_batch_processor.rs:36-100`; syslog receiver
batches 100 msgs / 100 ms, `syslog_cef_receiver.rs:40-41`). It has no
event-time watermarks or windows (SURVEY §2.12) — wall-clock timers
only — so Spark's processing-time triggers strictly subsume it; we add
event-time windowed aggregation with watermarks as the scale-correct
extension for late data.

Design notes for 100 TB/day streams:

- The SAME parse/enrich/route functions are reused — they are narrow
  transformations, identical in batch and streaming plans.
- The routed file sink is Spark's transactional file sink (checkpoint +
  manifest → exactly-once per micro-batch), partitioned by sink.
- The stateful sessionizer uses ``applyInPandasWithState`` (Arrow
  batches, state pruned by timeout) — bounded memory per key, scales
  with shuffle partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType, LongType, StringType, StructField, StructType, TimestampType,
)

TRANSCRIPT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("role", StringType()),
        StructField("text", StringType()),
        StructField("tool", StringType()),
        StructField("ts", TimestampType()),
    ]
)


def read_transcript_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over transcript parquet (micro-batch = receiver
    batch; `maxFilesPerTrigger` plays `MAX_BATCH_SIZE`)."""
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(input_dir)


def stream_pipeline(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    tool_catalog: DataFrame,
    role_catalog: DataFrame,
    available_now: bool = True,
):
    """parse→enrich→route as a stream; routed rows land in a partitioned,
    transactional file sink. Returns the started StreamingQuery.

    Batch/stream parity: the transformation subtree is the exact batch
    code (narrow ops stay narrow under micro-batching), so routed-row
    equality vs the batch pipeline holds per construction and is gated
    in tests.
    """
    from otel_arrow_spark.enrich import enrich_turns
    from otel_arrow_spark.parse import parse_turns
    from otel_arrow_spark.router import route_turns

    stream = read_transcript_stream(spark, input_dir)
    routed = route_turns(enrich_turns(parse_turns(stream), tool_catalog, role_catalog))
    writer = (
        routed.writeStream.format("parquet")
        .partitionBy("sink")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_sink_counts(routed_stream: DataFrame,
                         watermark: str = "2 hours",
                         window: str = "1 hour") -> DataFrame:
    """Event-time windowed per-sink counts with late-data watermark.

    Append-mode-safe: a window finalizes once the watermark passes its
    end, so each (window, sink) count is emitted exactly once.
    """
    return (
        routed_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), F.col("sink"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("win.start").alias("window_start"),
            "sink",
            "n_turns",
        )
    )


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("n_turns", LongType()),
        StructField("last_ts", LongType()),  # epoch micros
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("closed", StringType()),
    ]
)


def conversation_sessions(transcripts: DataFrame,
                          timeout_ms: int = 30_000) -> DataFrame:
    """Custom stateful operator: per-conversation running session state
    via ``applyInPandasWithState`` (Arrow-batched; the Spark analog of
    the reference's per-node accumulator state, SURVEY §2.12).

    Emits a row per conversation per trigger with the running turn count;
    emits a final ``closed='timeout'`` row when the conversation goes
    idle past the processing-time timeout.
    """
    import pandas as pd

    def _update(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            n, last = state.get
            state.remove()
            yield pd.DataFrame(
                {"conv_id": [conv_id], "n_turns": [n], "closed": ["timeout"]}
            )
            return
        n, last = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                last = max(last, int(pdf["ts"].astype("int64").max() // 1000))
        state.update((n, last))
        state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"conv_id": [conv_id], "n_turns": [n], "closed": ["open"]}
        )

    return transcripts.groupBy("conv_id").applyInPandasWithState(
        _update,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


SPAN_STATE_SCHEMA = StructType(
    [
        StructField("open_span_id", StringType()),
        StructField("open_parent", StringType()),
        StructField("open_name", StringType()),
        StructField("open_start_us", LongType()),   # epoch micros
        StructField("open_status", IntegerType()),
        StructField("open_tool", StringType()),
        StructField("open_host", StringType()),
        StructField("open_turn_idx", IntegerType()),
        StructField("trace_id", StringType()),
        StructField("last_ts_us", LongType()),      # conv end so far
    ]
)

SPAN_OUTPUT_SCHEMA = StructType(
    [
        StructField("trace_id", StringType()),
        StructField("span_id", StringType()),
        StructField("parent_span_id", StringType()),
        StructField("name", StringType()),
        StructField("kind", IntegerType()),
        StructField("start_ts", TimestampType()),
        StructField("end_ts", TimestampType()),
        StructField("duration_us", LongType()),
        StructField("status_code", IntegerType()),
        StructField("tool", StringType()),
        StructField("host", StringType()),
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
    ]
)


def streaming_spans(routed_stream: DataFrame,
                    timeout_ms: int = 30_000) -> DataFrame:
    """SPANS derived as a stream — the streaming form of the batch
    ``signals.signal_base`` + ``spans_table`` pass, whose unbounded
    conversation windows are not streamable. Instead, a per-conversation
    state machine (``applyInPandasWithState``, Arrow-batched, state =
    ONE open span + the running conversation-end timestamp — O(1) per
    key):

    - a span turn closes the previously open span of its conversation
      (``end_ts`` = the new span's start, exactly the batch
      ``next_span_ts`` frame) and becomes the open span;
    - the conversation's final span is emitted when the key times out
      (processing-time idle ≙ conversation end; its ``end_ts`` is the
      last turn timestamp seen, the batch ``conv_end_ts``).

    Ids come from :func:`otel_arrow_spark.signals.signal_keys` — the
    same content-derived sha-256 prefixes as batch, so batch/stream
    parity holds row-for-row on every emitted span (gated in tests).
    Assumes per-conversation event-time order across micro-batches (the
    file source replays in order; within a batch, rows are sorted here).
    """
    import pandas as pd

    from otel_arrow_spark.signals import (
        SPAN_KIND_CLIENT, STATUS_ERROR, STATUS_OK, STATUS_UNSET, signal_keys,
    )

    base = signal_keys(routed_stream).select(
        "conv_id", "turn_idx", "ts", "trace_id", "span_key",
        "event_name", "tool", "host", "severity",
    )

    def _row(conv_id, st, end_us):
        start = pd.Timestamp(st["open_start_us"], unit="us")
        end = pd.Timestamp(end_us, unit="us")
        return {
            "trace_id": st["trace_id"],
            "span_id": st["open_span_id"],
            "parent_span_id": st["open_parent"],
            "name": st["open_name"],
            "kind": SPAN_KIND_CLIENT,
            "start_ts": start,
            "end_ts": end,
            "duration_us": int(end_us - st["open_start_us"]),
            "status_code": st["open_status"],
            "tool": st["open_tool"],
            "host": st["open_host"],
            "conv_id": conv_id,
            "turn_idx": st["open_turn_idx"],
        }

    def _update(key, pdfs, state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            vals = state.get
            st = dict(zip(SPAN_STATE_SCHEMA.fieldNames(), vals))
            state.remove()
            if st["open_span_id"] is not None:
                yield pd.DataFrame([_row(conv_id, st, st["last_ts_us"])])
            return

        if state.exists:
            st = dict(zip(SPAN_STATE_SCHEMA.fieldNames(), state.get))
        else:
            st = {f: None for f in SPAN_STATE_SCHEMA.fieldNames()}
        out: list[dict] = []
        # applyInPandasWithState delivers a group as MULTIPLE Arrow
        # chunks (~10k rows each) with no inter-chunk ordering
        # guarantee; sorting each chunk independently would feed the
        # state machine out of order for conversations spanning chunks.
        # Concatenate the whole group, then sort ONCE.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            whole = (
                chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
            )
            whole = whole.sort_values("turn_idx")
            for r in whole.itertuples(index=False):
                ts_us = int(pd.Timestamp(r.ts).value // 1000)
                st["last_ts_us"] = max(st["last_ts_us"] or 0, ts_us)
                st["trace_id"] = r.trace_id
                if r.span_key is None or (
                    isinstance(r.span_key, float) and pd.isna(r.span_key)
                ):
                    continue
                if st["open_span_id"] is not None:
                    out.append(_row(conv_id, st, ts_us))
                sev = None if pd.isna(r.severity) else int(r.severity)
                st.update(
                    open_parent=st["open_span_id"],
                    open_span_id=r.span_key,
                    open_name=(
                        r.event_name
                        if isinstance(r.event_name, str)
                        else f"tool:{r.tool}"
                    ),
                    open_start_us=ts_us,
                    open_status=(
                        STATUS_UNSET if sev is None
                        else (STATUS_ERROR if sev <= 3 else STATUS_OK)
                    ),
                    open_tool=r.tool,
                    open_host=None if pd.isna(r.host) else r.host,
                    open_turn_idx=int(r.turn_idx),
                )
        state.update(tuple(st[f] for f in SPAN_STATE_SCHEMA.fieldNames()))
        state.setTimeoutDuration(timeout_ms)
        if out:
            yield pd.DataFrame(out)

    return base.groupBy("conv_id").applyInPandasWithState(
        _update,
        outputStructType=SPAN_OUTPUT_SCHEMA,
        stateStructType=SPAN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def metric_value_expr() -> "F.Column":
    """Narrow metric-value extraction shared with the batch signals path
    (`signals.metric_points` semantics, minus the span-linkage window —
    window functions are not streamable; the value itself is pure
    per-row)."""
    return (
        F.when(
            F.col("format") == "rfc5424",
            F.try_element_at(F.col("attrs"), F.lit("code")).try_cast("double"),
        )
        .otherwise(F.col("severity").cast("double"))
    )


def streaming_histogram_points(
    routed_stream: DataFrame,
    watermark: str = "2 hours",
    window: str = "1 hour",
) -> DataFrame:
    """HISTOGRAM_DATA_POINTS as a watermarked streaming aggregation —
    the streaming form of `signals.histogram_data_points`. The bucket
    counts are sums of indicator expressions (distributive), so Spark
    maintains them incrementally per micro-batch with bounded state; a
    window finalizes once the watermark passes its end (append-safe,
    each histogram point emitted exactly once)."""
    from otel_arrow_spark.signals import HIST_BOUNDS, _bucket_count_cols

    v = F.col("value")
    return (
        routed_stream.filter(F.col("sink") == "sink_metrics")
        .withColumn(
            "metric_name",
            F.when(F.col("format") == "rfc5424", F.col("event_name"))
            .otherwise(F.concat(F.lit("cef."), F.col("event_name"))),
        )
        .withColumn("value", metric_value_expr())
        .filter(v.isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            "metric_name",
            "host",
        )
        .agg(
            F.count(v).alias("point_count"),
            F.round(F.sum(v), 6).alias("sum_value"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
            F.array(*_bucket_count_cols(v, HIST_BOUNDS)).alias("bucket_counts"),
        )
        .select(
            F.col("win.start").alias("hour"), "metric_name", "host",
            "point_count", "sum_value", "min_value", "max_value",
            "bucket_counts",
        )
    )


def streaming_gap_sessions(
    turns: DataFrame,
    gap: str = "30 seconds",
    watermark: str = "2 hours",
    key: str = "conv_id",
) -> DataFrame:
    """Event-time gap sessionization as a streaming aggregation — the
    streaming twin of ``operators.sequence.sessionize`` (KQL
    ``row_window_session`` shape). ``session_window`` merges events
    whose [ts, ts+gap) extents overlap, so a session closes after a
    strictly-larger-than-gap silence — the same boundary rule as the
    batch operator's ``diff > gap`` test (exact-equality ties differ
    only on measure-zero timestamps; the parity test asserts equality on
    real data). State per key is one open session (bounded); a session
    finalizes — and is emitted exactly once in append mode — when the
    watermark passes its close.
    """
    return (
        turns.withWatermark("ts", watermark)
        .groupBy(F.col(key), F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            key,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_rows",
        )
    )


def streaming_dedup(
    stream: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Exactly-once streaming deduplication within a watermark — the
    streaming twin of the batch content dedup (`dataops/dedup.py`
    exact groups; reference analog: the ingest path's duplicate
    suppression under at-least-once delivery, SURVEY §2.11 Ack/Nack).

    ``dropDuplicatesWithinWatermark`` keeps the FIRST row per key and
    drops later arrivals until the watermark passes the first row's
    event time — state is bounded by the watermark horizon instead of
    growing with the whole stream (a plain ``dropDuplicates`` on a
    stream retains every key forever; at 10^12 turns that state is the
    job's death). Keys default to the transcript identity
    (conv_id, turn_idx) — the at-least-once replay unit of the
    pipeline's checkpointed source.
    """
    keys = key_cols or ["conv_id", "turn_idx"]
    return stream.withWatermark(
        ts_col, watermark
    ).dropDuplicatesWithinWatermark(keys)


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "conv_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_gap: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left row pairs
    with right rows of the same key whose event time falls in
    [left_ts, left_ts + max_gap) — correlating two live signal streams
    (e.g. routed log turns with the trace turns that follow them), the
    streaming twin of the batch parent-child interval joins.

    Both sides carry watermarks and the join condition bounds the
    event-time distance, so Spark can expire state: each side retains
    at most ``watermark + max_gap`` of history per key — bounded state
    at any stream length, never a full-history buffer. Right-side
    non-key columns come back suffixed ``_r`` (both streams share the
    transcript schema).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
        & (
            F.col(f"r.{right_ts}")
            < F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {max_gap}")
        )
    )
    out = l.join(r, cond, "inner")
    keep = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}").alias(f"{c}_r")
        for c in right.columns
        if c != key
    ]
    return out.select(*keep)


def streaming_enrich(
    stream: DataFrame,
    tool_catalog: DataFrame,
    role_catalog: DataFrame,
) -> DataFrame:
    """Stream-static broadcast enrich — the streaming twin of the batch
    `enrich.enrich_turns` (§2.5 lookup enrich; reference analog: the
    attribute-dictionary probe on the live ingest path).

    A stream-static join is stateless on the stream side: Spark
    re-resolves the static relation per micro-batch and, with the dims
    explicitly broadcast, plans an executor-local hash probe — no
    stream-side shuffle, no state store, bounded memory at any stream
    length. LEFT joins keep unmatched rows (nulls, never drops) so the
    routed counts downstream are unaffected by catalog gaps.
    """
    from otel_arrow_spark.enrich import enrich_turns

    # enrich_turns is already pure narrow-side plan construction
    # (broadcast dims, left joins); it composes unchanged on a
    # streaming DataFrame — asserted by the batch/stream parity test.
    return enrich_turns(stream, tool_catalog, role_catalog)


def exactly_once_batch_sink(catalog, table: str, ledger_dir: str):
    """Idempotent ``foreachBatch`` writer into a :class:`Catalog` table
    — the pattern for streaming into a real table (Iceberg/JDBC/…)
    where the built-in file sink's commit log doesn't apply.

    ``foreachBatch`` is AT-LEAST-ONCE: after a crash between the user
    function and the checkpoint commit, the same ``batch_id`` replays.
    Exactly-once here is two independent guards (the lineage-slice
    discipline, `lineage.py`):

    * **physical idempotence** — every batch writes through dynamic
      partition overwrite keyed by ``_batch_id``, so a replay replaces
      exactly its own partition, never appends a second copy — even
      when the ledger is lost;
    * **skip ledger** — a marker file per committed batch id (written
      AFTER the data commit) lets clean replays skip the write
      entirely.

    **Ledger durability**: ``foreachBatch`` functions run on the
    DRIVER, so ``ledger_dir`` must survive whatever the driver can —
    on a cluster where the driver may restart on another node, point
    it at shared storage (an ``s3://``/``hdfs://``/… URI is opened
    through ``fsspec`` when that package is installed; plain paths use
    the local filesystem). A LOST ledger is safe either way: replays
    then fall through to the dynamic-partition overwrite, which is
    idempotent by construction (asserted by
    ``test_exactly_once_batch_sink_replay_safe``) — the ledger is an
    optimization that skips re-writes, not the correctness guard.

    Returns the function to pass to ``writeStream.foreachBatch``.
    """
    import os

    if "://" in ledger_dir:
        try:
            import fsspec
        except ImportError as e:
            raise RuntimeError(
                f"ledger_dir {ledger_dir!r} has a URI scheme, which "
                "needs the optional fsspec package; install it or use "
                "a local/mounted path"
            ) from e
        fs, root = fsspec.core.url_to_fs(ledger_dir)
        fs.makedirs(root, exist_ok=True)

        def _marker(batch_id: int) -> str:
            return f"{root.rstrip('/')}/batch-{batch_id}.done"

        def _exists(p: str) -> bool:
            return fs.exists(p)

        def _commit(p: str) -> None:
            with fs.open(p, "w") as f:
                f.write("committed\n")
    else:
        os.makedirs(ledger_dir, exist_ok=True)

        def _marker(batch_id: int) -> str:
            return os.path.join(ledger_dir, f"batch-{batch_id}.done")

        def _exists(p: str) -> bool:
            return os.path.exists(p)

        def _commit(p: str) -> None:
            with open(p, "w") as f:
                f.write("committed\n")

    def _write(df: DataFrame, batch_id: int) -> None:
        marker = _marker(batch_id)
        if _exists(marker):
            return
        catalog.overwrite_partitions(
            df.withColumn("_batch_id", F.lit(int(batch_id))),
            table,
            partition_by=["_batch_id"],
        )
        _commit(marker)

    return _write


def streaming_make_series(
    stream: DataFrame,
    start: str,
    end: str,
    step: str = "1 hour",
    keys: tuple = ("tool",),
    on: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """The INCREMENTAL half of a streaming `make-series`: a watermarked
    tumbling-window count per key, emitted as finalized
    ``(keys…, _msi bin index, _msv value)`` rows once the watermark
    passes each window — bounded state (windows in flight only), each
    bin exactly once (append mode).

    A dense per-key series array can only finalize when the WHOLE
    [from, to) range passes the watermark, so the scalable streaming
    shape is: emit bins incrementally, assemble the regular arrays at
    read time with :func:`assemble_series` (the same split the
    reference's batch exporter applies between incremental aggregation
    and final encoding). Batch/stream parity is gated by
    ``test_streaming_make_series_equals_batch``: streamed bins +
    assembly must equal the batch KQL ``make-series`` arrays exactly.

    ``start`` must be aligned to ``step`` (tumbling windows are
    epoch-aligned; an unaligned start would shift bin boundaries vs the
    batch operator, which bins relative to ``from``)."""
    startc = F.lit(start).cast("timestamp")
    endc = F.lit(end).cast("timestamp")
    onc = F.col(on)
    win = F.window(on, step).alias("_win")
    import re as _re

    m = _re.fullmatch(r"(\d+)\s+(hour|minute|second|day)s?", step.strip())
    if not m:
        raise ValueError(f"step {step!r}: use '<n> hour|minute|second|day'")
    step_sec = int(m.group(1)) * {
        "hour": 3600, "minute": 60, "second": 1, "day": 86400
    }[m.group(2)]
    return (
        stream.filter((onc >= startc) & (onc < endc))
        .withWatermark(on, watermark)
        .groupBy(win, *[F.col(k) for k in keys])
        .agg(F.count(F.lit(1)).alias("_msv"))
        .select(
            *keys,
            F.floor(
                (F.col("_win.start").cast("double")
                 - startc.cast("double")) / step_sec
            ).cast("int").alias("_msi"),
            "_msv",
        )
    )


def assemble_series(
    binned: DataFrame,
    start: str,
    end: str,
    step_sec: int,
    keys: tuple = ("tool",),
    name: str = "n",
    default: int = 0,
) -> DataFrame:
    """Collapse streamed make-series bins into the REGULAR per-key
    series (every bin present, gaps filled with ``default``) + the
    matching timestamp array — the read-time assembly companion of
    :func:`streaming_make_series`, producing exactly the batch
    ``make-series`` output shape. One map-side-combinable aggregation;
    the dense grid is a per-row ``transform(sequence(…))`` over a
    bin→value map, no grid join."""
    from datetime import datetime as _dt

    n_bins = int(-(-(
        (_dt.fromisoformat(end) - _dt.fromisoformat(start)).total_seconds()
    ) // step_sec))
    startc = F.lit(start).cast("timestamp")
    seq = F.sequence(F.lit(0), F.lit(n_bins - 1))
    return (
        binned.groupBy(*[F.col(k) for k in keys])
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("_msi", "_msv"))
            ).alias("_msm")
        )
        .select(
            *keys,
            F.transform(
                seq,
                lambda i: F.coalesce(
                    F.try_element_at("_msm", i), F.lit(default)
                ).cast("long"),
            ).alias(name),
            F.transform(
                seq,
                lambda i: F.timestamp_seconds(
                    startc.cast("double") + i * F.lit(step_sec)
                ),
            ).alias("ts_series"),
        )
    )


def streaming_sliding_counts(
    stream: DataFrame,
    start: str,
    end: str,
    lookback_sec: int,
    bin_sec: int,
    id_col: str = "conv_id",
    on: str = "ts",
):
    """Streaming twin of ``evaluate sliding_window_counts`` — per bin
    in [start, end], the trailing-lookback record count and distinct-id
    count, as TWO incremental legs sharing the batch operator's exact
    scale shape (bounded k = lookback/bin target-bin explode, never a
    range join; pre-start lookback rows seed the first bins, clamped so
    pre-start bins never emit):

    - counts leg: explode → one running aggregate per target bin;
    - dcounts leg: ``dropDuplicates([id, bin])`` → per-bin count (the
      distinct-(id, source-slot) spread of the batch plugin collapses
      to exactly this after the explode).

    Gaps/empty bins are filled at read time by
    :func:`assemble_sliding_counts` (the :func:`assemble_series`
    convention: incremental emission + read-time spine, the same
    incremental/final split as the reference's batch exporter). In
    production both legs run with a watermark (state bounded by
    lookback + delay; use ``dropDuplicatesWithinWatermark`` on the
    dedup leg); the parity test drives them complete-mode under
    ``availableNow`` where the single pass never advances the
    watermark (same convention as the make-series twin above).
    ``start``/``end`` are naive UTC, as in the batch plugin."""
    from otel_arrow_spark.operators.kql_parser import _plugin_epoch

    t0, t1 = _plugin_epoch(start), _plugin_epoch(end)
    s0, e0 = int(t0 // bin_sec), int(t1 // bin_sec)
    k = lookback_sec // bin_sec
    ep = F.col(on).cast("timestamp").cast("double")
    slot = F.floor(ep / float(bin_sec)).cast("long")
    rows = (
        stream.filter((ep <= F.lit(t1)) & (slot >= F.lit(s0 - k + 1)))
        .select(
            F.col(id_col).alias("_id"),
            F.explode(F.sequence(
                F.greatest(slot, F.lit(s0)),
                F.least(slot + F.lit(k - 1), F.lit(e0)),
            )).alias("_t"),
        )
    )
    counts = rows.groupBy("_t").agg(F.count(F.lit(1)).alias("count_"))
    dcounts = (
        rows.dropDuplicates(["_id", "_t"])
        .groupBy("_t").agg(F.count(F.lit(1)).alias("dcount"))
    )
    return counts, dcounts


def assemble_sliding_counts(
    spark,
    counts: DataFrame,
    dcounts: DataFrame,
    start: str,
    end: str,
    bin_sec: int,
) -> DataFrame:
    """Read-time assembly for :func:`streaming_sliding_counts`: the
    [start, end] bin spine left-joins both incremental legs (zeros for
    silent bins), producing exactly the batch plugin's output shape."""
    from otel_arrow_spark.operators.kql_parser import _plugin_epoch

    s0 = int(_plugin_epoch(start) // bin_sec)
    e0 = int(_plugin_epoch(end) // bin_sec)
    spine = spark.range(s0, e0 + 1).select(F.col("id").alias("_t"))
    return (
        spine.join(counts, "_t", "left")
        .join(dcounts, "_t", "left")
        .select(
            F.timestamp_seconds(
                F.col("_t") * F.lit(float(bin_sec))
            ).cast("timestamp_ntz").alias("ts"),
            F.coalesce("count_", F.lit(0)).alias("count_"),
            F.coalesce("dcount", F.lit(0)).alias("dcount"),
        )
    )
