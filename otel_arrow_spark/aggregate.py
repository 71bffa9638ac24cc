"""Windowed / grouped aggregations over routed turns.

Analog of (a) the reference's canonical time-bucketed count query over
exported parquet (`rust/parquet-query-examples/examples/query_logs.rs:29-45`)
and (b) the KQL ``summarize`` hash aggregation
(`rust/experimental/query_engine/expressions/src/summary/summary_data_expression.rs:9-75`).
All aggregations are plain ``groupBy().agg()`` so Catalyst applies map-side
partial aggregation; no driver-side loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def counts_by_sink_tool_hour(routed: DataFrame) -> DataFrame:
    """Per-sink turn counts grouped by (sink, tool, hour) — the north-star agg."""
    return (
        routed.groupBy(
            "sink",
            F.col("tool"),
            F.date_trunc("hour", F.col("ts")).alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )


def counts_by_conv(routed: DataFrame) -> DataFrame:
    """Turns / distinct tools / span per conversation."""
    return routed.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("n_turns"),
        F.countDistinct("tool").alias("n_tools"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
