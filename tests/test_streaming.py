"""Structured Streaming pipeline: batch/stream parity, watermark windows,
custom stateful sessionization."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _await(q, timeout: int) -> None:
    """Wait up to ``timeout`` seconds for the streaming query ``q``, then
    stop it whether or not it finished: a stream that outlives its test
    keeps Python workers busy for the rest of the session."""
    try:
        q.awaitTermination(timeout)
    finally:
        q.stop()


@pytest.fixture(scope="module")
def stream_dirs(tmp_path_factory, spark, fixture_pdf):
    root = tmp_path_factory.mktemp("stream")
    in_dir, out_dir, ckpt = (
        str(root / "in"), str(root / "out"), str(root / "ckpt")
    )
    # several input files → several micro-batch units
    df = spark.createDataFrame(fixture_pdf).repartition(4)
    df.write.mode("overwrite").parquet(in_dir)
    return in_dir, out_dir, ckpt


def test_stream_equals_batch_routing(spark, stream_dirs, catalogs, fixture_pdf):
    from otel_arrow_spark.enrich import enrich_turns
    from otel_arrow_spark.parse import parse_turns
    from otel_arrow_spark.router import route_turns
    from otel_arrow_spark.streaming import stream_pipeline

    in_dir, out_dir, ckpt = stream_dirs
    tools, roles = catalogs
    q = stream_pipeline(spark, in_dir, out_dir, ckpt, tools, roles)
    _await(q, 120)

    streamed = spark.read.parquet(out_dir)
    batch = route_turns(
        enrich_turns(
            parse_turns(spark.read.parquet(in_dir)), tools, roles
        )
    )
    s_counts = {
        r["sink"]: r["n"]
        for r in streamed.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    b_counts = {
        r["sink"]: r["n"]
        for r in batch.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert s_counts == b_counts
    assert sum(s_counts.values()) == len(fixture_pdf)

    # routed-row-set equality (conv_id, turn_idx, sink) — the reference's
    # equivalence discipline applied to the streaming sink
    s_rows = {
        (r.conv_id, r.turn_idx, r.sink)
        for r in streamed.select("conv_id", "turn_idx", "sink").collect()
    }
    b_rows = {
        (r.conv_id, r.turn_idx, r.sink)
        for r in batch.select("conv_id", "turn_idx", "sink").collect()
    }
    assert s_rows == b_rows


def test_stream_resume_no_duplicates(spark, stream_dirs, catalogs):
    """Restarting the availableNow query from the same checkpoint must be
    a no-op (transactional file sink, no double-writes)."""
    from otel_arrow_spark.streaming import stream_pipeline

    in_dir, out_dir, ckpt = stream_dirs
    tools, roles = catalogs
    before = spark.read.parquet(out_dir).count()
    q = stream_pipeline(spark, in_dir, out_dir, ckpt, tools, roles)
    _await(q, 120)
    after = spark.read.parquet(out_dir).count()
    assert before == after


def test_windowed_counts_with_watermark(spark, stream_dirs, catalogs):
    from otel_arrow_spark.enrich import enrich_turns
    from otel_arrow_spark.parse import parse_turns
    from otel_arrow_spark.router import route_turns
    from otel_arrow_spark.streaming import (
        read_transcript_stream, windowed_sink_counts,
    )

    in_dir, _out, _c = stream_dirs
    tools, roles = catalogs
    stream = read_transcript_stream(spark, in_dir)
    routed = route_turns(enrich_turns(parse_turns(stream), tools, roles))
    counts = windowed_sink_counts(routed)
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 120)
    got = {
        (r.window_start, r.sink): r.n_turns
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    batch = route_turns(
        enrich_turns(parse_turns(spark.read.parquet(in_dir)), tools, roles)
    )
    exp = {
        (r.h, r.sink): r.n
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("h"), "sink"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == exp


def test_stateful_sessionization(spark, stream_dirs):
    from otel_arrow_spark.streaming import (
        conversation_sessions, read_transcript_stream,
    )

    in_dir, _out, _c = stream_dirs
    stream = read_transcript_stream(spark, in_dir)
    sessions = conversation_sessions(stream)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 180)
    rows = spark.sql(
        "SELECT conv_id, max(n_turns) AS n FROM sessions "
        "WHERE closed = 'open' GROUP BY conv_id"
    ).collect()
    got = {r.conv_id: r.n for r in rows}
    exp = {
        r.conv_id: r.n
        for r in spark.read.parquet(in_dir)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == exp


def test_streaming_histograms_equal_batch(spark, stream_dirs, catalogs):
    """Streaming histogram data points (watermarked 1h windows) must
    equal the batch signals.histogram_data_points over the same input —
    batch/stream parity for the metrics star schema."""
    from otel_arrow_spark.parse import parse_turns
    from otel_arrow_spark.router import route_turns
    from otel_arrow_spark.signals import (
        histogram_data_points, metric_points, signal_base,
    )
    from otel_arrow_spark.streaming import read_transcript_stream
    from otel_arrow_spark.streaming.pipeline import streaming_histogram_points

    in_dir, _out_dir, _ckpt = stream_dirs

    stream = route_turns(parse_turns(read_transcript_stream(spark, in_dir)))
    sdf = streaming_histogram_points(stream)
    q = (
        sdf.writeStream.format("memory")
        .queryName("hist_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 120)
    streamed = spark.sql("SELECT * FROM hist_stream")

    batch_df = histogram_data_points(
        metric_points(
            signal_base(route_turns(parse_turns(spark.read.parquet(in_dir))))
        )
    )

    def snap(df):
        return {
            (r.metric_name, r.host, r.hour): (
                r.point_count, r.sum_value, r.min_value, r.max_value,
                tuple(r.bucket_counts),
            )
            for r in df.collect()
        }

    assert snap(streamed) == snap(batch_df) and streamed.count() > 0


def test_streaming_spans_equal_batch(spark, stream_dirs):
    """Streaming SPANS (per-conversation state machine) must equal the
    batch signal_base→spans_table derivation row-for-row on every closed
    span — batch/stream parity for the traces star schema. The
    conversation-final span closes on idle timeout, which an
    availableNow run never reaches, so parity is over the spans closed
    by a successor span (every non-final span per conversation)."""
    from pyspark.sql import Window

    from otel_arrow_spark.parse import parse_turns
    from otel_arrow_spark.router import route_turns
    from otel_arrow_spark.signals import signal_base, spans_table
    from otel_arrow_spark.streaming import read_transcript_stream
    from otel_arrow_spark.streaming.pipeline import streaming_spans

    in_dir, _out, _ckpt = stream_dirs
    stream = route_turns(parse_turns(read_transcript_stream(spark, in_dir)))
    q = (
        streaming_spans(stream, timeout_ms=5_000)
        .writeStream.format("memory")
        .queryName("spans_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 300)
    streamed = spark.sql("SELECT * FROM spans_stream")

    batch = spans_table(
        signal_base(route_turns(parse_turns(spark.read.parquet(in_dir))))
    )
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
    batch_marked = batch.withColumn("_final", F.row_number().over(w) == 1)

    def snap(df):
        return {
            r.span_id: (
                r.trace_id, r.parent_span_id, r.name, r.kind, r.start_ts,
                r.end_ts, r.duration_us, r.status_code, r.tool, r.host,
                r.conv_id, r.turn_idx,
            )
            for r in df.collect()
        }

    s = snap(streamed)
    b_rows = batch_marked.collect()
    b = snap(batch_marked.drop("_final"))
    finals = {r.span_id for r in b_rows if r._final}
    closed = set(b) - finals
    assert len(s) > 0
    # every streamed span must be byte-identical to its batch twin
    assert all(s[k] == b[k] for k in s), {
        k: (s[k], b.get(k)) for k in s if s[k] != b.get(k)
    }
    # every successor-closed span must have been emitted; any extras are
    # conversation-final spans flushed by the idle timeout (whether a
    # given final flushed before the availableNow run ended is timing-
    # dependent, but its CONTENT is exact either way, asserted above)
    assert closed <= set(s)
    assert set(s) - closed <= finals


def test_streaming_dedup_drops_replays(spark, tmp_path):
    """At-least-once replay suppression: plant duplicate (conv_id,
    turn_idx) rows in different input files (micro-batches) and assert
    the watermarked streaming dedup converges to the batch
    dropDuplicates result."""
    from otel_arrow_spark.streaming import (
        read_transcript_stream, streaming_dedup,
    )

    base = spark.range(200).select(
        F.concat(F.lit("c"), (F.col("id") % 20)).alias("conv_id"),
        (F.col("id") / 20).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("txt "), F.col("id")).alias("text"),
        F.lit("none").alias("tool"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id"))).alias("ts"),
    )
    in_dir = str(tmp_path / "in")
    # write the originals and a replayed half into SEPARATE files so the
    # duplicates arrive in different micro-batch units
    base.coalesce(1).write.mode("overwrite").parquet(in_dir)
    base.filter(F.col("turn_idx") % 2 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    deduped = streaming_dedup(read_transcript_stream(spark, in_dir))
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 180)
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT conv_id || '#' || turn_idx)"
        " AS nk FROM dedup_stream"
    ).collect()[0]
    assert got.n == 200 and got.nk == 200


def test_streaming_interval_join_equals_batch(spark, tmp_path):
    """Stream-stream interval join parity: correlate 'user' turns with
    the 'assistant' turns that follow within the gap, streamed with
    watermarks on both sides, and assert exact equality with the batch
    join under the identical condition."""
    from otel_arrow_spark.streaming import (
        read_transcript_stream, streaming_interval_join,
    )

    # conv key mod 3 (coprime with the role parity split, so both roles
    # appear in every conversation); 40 s turn spacing
    base = spark.range(300).select(
        F.concat(F.lit("c"), (F.col("id") % 3)).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.when(F.col("id") % 2 == 0, "user").otherwise("assistant")
        .alias("role"),
        F.concat(F.lit("m"), F.col("id")).alias("text"),
        F.lit("none").alias("tool"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id") * 40)).alias("ts"),
    )
    left_dir, right_dir = str(tmp_path / "l"), str(tmp_path / "r")
    base.filter(F.col("role") == "user").coalesce(2).write.parquet(left_dir)
    base.filter(F.col("role") == "assistant").coalesce(2).write.parquet(
        right_dir
    )

    joined = streaming_interval_join(
        read_transcript_stream(spark, left_dir),
        read_transcript_stream(spark, right_dir),
        max_gap="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 180)
    got = {
        (r.conv_id, r.turn_idx, r.turn_idx_r)
        for r in spark.sql("SELECT * FROM ssj").collect()
    }

    lb = spark.read.parquet(left_dir).alias("l")
    rb = spark.read.parquet(right_dir).alias("r")
    exp = {
        (r.conv_id, r.ti, r.tr)
        for r in lb.join(
            rb,
            (F.col("l.conv_id") == F.col("r.conv_id"))
            & (F.col("r.ts") >= F.col("l.ts"))
            & (F.col("r.ts") < F.col("l.ts")
               + F.expr("INTERVAL 10 minutes")),
        ).select(
            F.col("l.conv_id"), F.col("l.turn_idx").alias("ti"),
            F.col("r.turn_idx").alias("tr"),
        ).collect()
    }
    assert got == exp and len(got) > 0


def test_exactly_once_batch_sink_replay_safe(spark, tmp_path):
    """foreachBatch is at-least-once on retry: replaying the same
    batch_id (ledger intact OR lost) must never produce a second copy,
    and a new batch id must append."""
    from otel_arrow_spark.catalog import Catalog
    from otel_arrow_spark.streaming import (
        exactly_once_batch_sink, read_transcript_stream,
    )

    base = spark.range(100).select(
        F.concat(F.lit("c"), F.col("id") % 5).alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
        F.lit("none").alias("tool"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("ts"),
    )
    in_dir = str(tmp_path / "in")
    base.coalesce(2).write.parquet(in_dir)

    cat = Catalog(spark, str(tmp_path / "cat"))
    sink = exactly_once_batch_sink(cat, "routed", str(tmp_path / "ledger"))
    q = (
        read_transcript_stream(spark, in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 180)
    assert cat.read("routed").count() == 100

    # clean replay of an already-committed batch: skipped via ledger
    sink(base.limit(7), 0)
    assert cat.read("routed").count() == 100
    # ledger lost (crash after data, before marker): dynamic overwrite
    # of the batch's own partition still yields exactly one copy
    import os
    for f in os.listdir(str(tmp_path / "ledger")):
        os.unlink(str(tmp_path / "ledger" / f))
    sink(base, 0)
    assert cat.read("routed").count() == 100
    # a NEW batch id appends
    sink(base.limit(10), 99)
    assert cat.read("routed").count() == 110


def test_streaming_spans_multichunk_order(spark, tmp_path, fixture_pdf):
    """applyInPandasWithState delivers one group as MULTIPLE Arrow
    chunks with no inter-chunk ordering guarantee. Force pathological
    chunking (maxRecordsPerBatch=3) over an input written in DESCENDING
    turn order, and assert the state machine still produces exactly the
    batch derivation — i.e. the group is sorted as a whole, not
    per-chunk (regression: r3 sorted each chunk independently)."""
    from pyspark.sql import Window

    from otel_arrow_spark.parse import parse_turns
    from otel_arrow_spark.router import route_turns
    from otel_arrow_spark.signals import signal_base, spans_table
    from otel_arrow_spark.streaming import read_transcript_stream
    from otel_arrow_spark.streaming.pipeline import streaming_spans

    in_dir = str(tmp_path / "in")
    pdf = fixture_pdf[fixture_pdf.conv_id.isin(
        sorted(fixture_pdf.conv_id.unique())[:6]
    )]
    (
        spark.createDataFrame(pdf)
        .orderBy(F.col("conv_id"), F.col("turn_idx").desc())
        .coalesce(1)
        .write.parquet(in_dir)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        stream = route_turns(parse_turns(read_transcript_stream(spark, in_dir)))
        q = (
            streaming_spans(stream, timeout_ms=5_000)
            .writeStream.format("memory")
            .queryName("spans_stream_chunked")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q, 300)
    finally:
        spark.conf.set(key, prev)
    streamed = spark.sql("SELECT * FROM spans_stream_chunked")

    batch = spans_table(
        signal_base(route_turns(parse_turns(spark.read.parquet(in_dir))))
    )
    w = Window.partitionBy("conv_id").orderBy(F.col("turn_idx").desc())
    batch_marked = batch.withColumn("_final", F.row_number().over(w) == 1)

    def snap(df):
        return {
            r.span_id: (
                r.trace_id, r.parent_span_id, r.name, r.start_ts,
                r.end_ts, r.duration_us, r.conv_id, r.turn_idx,
            )
            for r in df.collect()
        }

    s = snap(streamed)
    b_rows = batch_marked.collect()
    b = snap(batch_marked.drop("_final"))
    finals = {r.span_id for r in b_rows if r._final}
    closed = set(b) - finals
    assert len(s) > 0 and len(closed) > 0
    assert all(s[k] == b[k] for k in s), {
        k: (s[k], b.get(k)) for k in s if s[k] != b.get(k)
    }
    assert closed <= set(s)


def test_exactly_once_sink_uri_ledger_requires_fsspec(spark, tmp_path):
    """A URI-scheme ledger_dir without fsspec installed must fail fast
    with a clear message, not fall back to a silently-local path."""
    import importlib.util

    from otel_arrow_spark.catalog import Catalog
    from otel_arrow_spark.streaming.pipeline import exactly_once_batch_sink

    if importlib.util.find_spec("fsspec") is not None:
        pytest.skip("fsspec installed; the URI path is exercised for real")
    cat = Catalog(spark, str(tmp_path / "cat"))
    with pytest.raises(RuntimeError, match="fsspec"):
        exactly_once_batch_sink(cat, "t", "s3://bucket/ledger")


def test_streaming_make_series_equals_batch(spark, stream_dirs):
    """Streaming make-series twin: watermarked tumbling-window bins
    (streaming_make_series) + read-time assembly (assemble_series) must
    equal the batch KQL `make-series` arrays exactly — regular grid,
    default-filled gaps, per-key."""
    from otel_arrow_spark.operators.kql_parser import kql
    from otel_arrow_spark.streaming import read_transcript_stream
    from otel_arrow_spark.streaming.pipeline import (
        assemble_series, streaming_make_series,
    )

    in_dir, _out, _ckpt = stream_dirs
    start, end = "2026-08-16 00:00:00", "2026-08-16 08:00:00"
    q = (
        streaming_make_series(
            read_transcript_stream(spark, in_dir),
            start, end, step="1 hour", keys=("tool",),
        )
        .writeStream.format("memory")
        .queryName("ms_bins")
        # complete mode: availableNow's single pass never advances the
        # watermark past the data, so append would (correctly) hold all
        # bins back — same convention as the histogram parity test. In
        # production append emits each finalized bin exactly once.
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 300)
    assembled = assemble_series(
        spark.sql("SELECT * FROM ms_bins"),
        start, end, step_sec=3600, keys=("tool",), name="n", default=0,
    )
    got = {
        r.tool: (list(r.n), [str(t) for t in r.ts_series])
        for r in assembled.collect()
    }

    batch = kql(
        spark.read.parquet(in_dir),
        "T | make-series n = count() default = 0 on ts"
        f" from datetime({start}) to datetime({end})"
        " step 1h by tool",
    )
    exp = {
        r.tool: (list(r.n), [str(t) for t in r.ts])
        for r in batch.collect()
    }
    assert set(got) == set(exp)
    assert len(got) > 1
    for k in exp:
        assert got[k][0] == exp[k][0], k   # value series identical
        assert got[k][1] == exp[k][1], k   # time grid identical
    # the grid really is regular and default-filled
    any_series = next(iter(got.values()))[0]
    assert len(any_series) == 8


def test_streaming_enrich_equals_batch(spark, tmp_path):
    """Stream-static broadcast enrich parity: the same transcript rows
    enriched as a stream (per-micro-batch static re-resolve, broadcast
    probe, no state store) must equal the batch `enrich_turns` result
    row-for-row, including unmatched-left nulls."""
    from otel_arrow_spark.enrich import enrich_turns
    from otel_arrow_spark.fixtures import gen_role_catalog, gen_tool_catalog
    from otel_arrow_spark.streaming import (
        read_transcript_stream,
        streaming_enrich,
    )

    base = spark.range(120).select(
        F.concat(F.lit("c"), (F.col("id") % 12)).alias("conv_id"),
        (F.col("id") / 12).cast("int").alias("turn_idx"),
        F.when(F.col("id") % 3 == 0, "user").otherwise("assistant")
        .alias("role"),
        F.concat(F.lit("txt "), F.col("id")).alias("text"),
        # every 5th row carries a tool id the catalog does NOT know —
        # the left join must keep it with null enrich fields
        F.when(F.col("id") % 5 == 0, F.lit("mystery_tool"))
        .otherwise(F.lit("calculator")).alias("tool"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp")
         + F.make_interval(secs=F.col("id"))).alias("ts"),
    )
    in_dir = str(tmp_path / "in")
    base.coalesce(2).write.mode("overwrite").parquet(in_dir)
    tools = spark.createDataFrame(gen_tool_catalog())
    roles = spark.createDataFrame(gen_role_catalog())

    enriched = streaming_enrich(
        read_transcript_stream(spark, in_dir), tools, roles)
    q = (
        enriched.writeStream.format("memory")
        .queryName("enrich_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    _await(q, 180)
    got = spark.sql("SELECT * FROM enrich_stream")
    exp = enrich_turns(
        spark.read.parquet(in_dir), tools, roles)
    key = lambda rows: sorted(map(tuple, rows))  # noqa: E731
    assert sorted(got.columns) == sorted(exp.columns)
    cols = sorted(got.columns)
    assert key(got.select(*cols).collect()) == key(
        exp.select(*cols).collect())
    # the unknown tool rows survived with null enrich fields
    assert got.filter(
        (F.col("tool") == "mystery_tool")
        & F.col("tool_kind").isNull()).count() == 24


def test_streaming_sliding_counts_equals_batch(spark, stream_dirs):
    """Streaming sliding_window_counts twin: two incremental legs
    (counts + dedup-dcounts) + read-time spine assembly must equal the
    batch `evaluate sliding_window_counts` output exactly — including
    the pre-start lookback seeding (start is mid-stream) and trailing
    empty bins — on a UTC driver and on one whose local zone is not UTC
    (the naive start/end bounds are UTC, never the driver's zone)."""
    import os
    import time

    from otel_arrow_spark.operators.kql_parser import kql
    from otel_arrow_spark.streaming import read_transcript_stream
    from otel_arrow_spark.streaming.pipeline import (
        assemble_sliding_counts, streaming_sliding_counts,
    )

    start, end = "2026-08-16 02:00:00", "2026-08-16 06:00:00"
    in_dir, _out, _ckpt = stream_dirs

    def streamed(tag: str) -> dict:
        counts, dcounts = streaming_sliding_counts(
            read_transcript_stream(spark, in_dir),
            start, end, lookback_sec=7200, bin_sec=3600,
        )
        qs = []
        for name, leg in ((f"swc_counts_{tag}", counts),
                          (f"swc_dcounts_{tag}", dcounts)):
            qs.append(
                leg.writeStream.format("memory").queryName(name)
                .outputMode("complete").trigger(availableNow=True).start())
        for q in qs:
            _await(q, 300)
        return {
            str(r.ts): (r.count_, r.dcount)
            for r in assemble_sliding_counts(
                spark,
                spark.sql(f"SELECT * FROM swc_counts_{tag}"),
                spark.sql(f"SELECT * FROM swc_dcounts_{tag}"),
                start, end, bin_sec=3600,
            ).collect()
        }

    batch = kql(
        spark.read.parquet(in_dir),
        "T | evaluate sliding_window_counts(conv_id, ts,"
        f" datetime({start}), datetime({end}), 2h, 1h)",
    )
    exp = {str(r.ts): (r.count_, r.dcount) for r in batch.collect()}
    assert streamed("utc") == exp
    assert len(exp) == 5  # 02:00 .. 06:00 inclusive
    # pre-start seeding is actually exercised: the first bin inherits
    # rows from 01:00 (before start)
    assert exp[min(exp)][0] > 0

    # same twin on a driver whose local zone is UTC+05:30 (POSIX form,
    # so no tz database is needed)
    saved = os.environ.get("TZ")
    os.environ["TZ"] = "IST-05:30"
    time.tzset()
    try:
        assert streamed("ist") == exp
    finally:
        if saved is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = saved
        time.tzset()
