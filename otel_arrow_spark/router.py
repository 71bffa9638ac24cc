"""Deterministic signal-type router + fan-out sinks.

Re-expresses the reference's signal_type_router
(`crates/otap/src/signal_type_router.rs:166-237` routing logic,
`:32-40` named out-ports, `:43-128` per-signal counters) as a derived
``sink`` column — a pure function of row fields, never of partitioning or
timing — followed by either a single-pass partitioned write (default; one
job, no per-sink rescan) or per-sink filtered writes.

Routing spec (FIXTURES.md §3; precedence top-down):

    sink_traces     role = 'tool' AND tool IS NOT NULL   (tool-call turns)
    sink_malformed  text failed all parsers
    sink_metrics    event_name ~ '^metric[.:]' OR format = 'cef'
    sink_logs       everything else (well-formed)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SINKS = ["sink_traces", "sink_metrics", "sink_logs", "sink_malformed"]
METRIC_EVENT_RE = r"^metric[.:]"


def sink_count_metrics() -> list[Column]:
    """``n_<sink>`` row counters for ``df.observe()`` on a routed frame."""
    return [F.sum(F.when(F.col("sink") == k, 1).otherwise(0)).alias(f"n_{k}")
            for k in SINKS]


def observed_sink_counts(m: dict) -> dict[str, int]:
    """Non-empty sinks' counts from an observation of sink_count_metrics()."""
    return {k: int(m[f"n_{k}"]) for k in SINKS if int(m[f"n_{k}"] or 0)}


def sink_expr() -> Column:
    """The routing rule as one deterministic expression (codegen-friendly)."""
    role, tool = F.col("role"), F.col("tool")
    fmt, event_name = F.col("format"), F.col("event_name")
    return (
        F.when((role == "tool") & tool.isNotNull(), F.lit("sink_traces"))
        .when(fmt == "malformed", F.lit("sink_malformed"))
        .when(
            (fmt == "cef") | event_name.rlike(METRIC_EVENT_RE),
            F.lit("sink_metrics"),
        )
        .otherwise(F.lit("sink_logs"))
    )


def route_turns(df: DataFrame) -> DataFrame:
    """Append the ``sink`` column (narrow, no shuffle)."""
    return df.withColumn("sink", sink_expr())


def sink_counts(routed: DataFrame) -> DataFrame:
    """Per-sink row counters (`signal_type_router.rs:43-128` MetricSet analog).

    Partial aggregation happens map-side; the shuffle moves ≤4 rows per
    partition regardless of input size.
    """
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("n_rows"))


def write_routed(
    routed: DataFrame,
    catalog,
    table: str = "routed",
    also_partition_by_hour: bool = True,
) -> None:
    """Single-pass fan-out: one write partitioned by sink (+ hour).

    At 100 TB this beats four filtered writes (one scan instead of four);
    each sink is then a partition-pruned read. Hour sub-partitioning mirrors
    the parquet exporter's partition-by-metadata-key scheme
    (`parquet_exporter/partition.rs:33-85`) and makes the per-hour aggregate
    a partition-pruned scan too.
    """
    cols = ["sink"]
    out = routed
    if also_partition_by_hour:
        out = out.withColumn("hour", F.date_trunc("hour", F.col("ts")))
        cols.append("hour")
    catalog.write(
        out,
        table,
        partition_by=cols,
        sort_within_partitions=["conv_id", "turn_idx"],
    )


def fan_out_writes(routed: DataFrame, catalog, prefix: str = "") -> dict[str, int]:
    """Alternative fan-out: one table per sink (separate filtered writes).

    Returns per-sink written row counts. Used when sinks need distinct
    schemas/retention; the filter is pushed to the scan so each pass prunes
    early, but prefer :func:`write_routed` when schemas match. Counts come
    from ``df.observe()`` inside each write job — no post-write re-scan of
    the sinks (4 extra reads at 100 TB otherwise).
    """
    from pyspark.sql import Observation

    counts: dict[str, int] = {}
    for sink in SINKS:
        part = routed.filter(F.col("sink") == sink)
        obs = Observation(f"fanout-{prefix}{sink}")
        part = part.observe(obs, F.count(F.lit(1)).alias("n"))
        catalog.write(
            part.drop("sink"),
            prefix + sink,
            sort_within_partitions=["conv_id", "turn_idx"],
        )
        counts[sink] = int(obs.get["n"])
    return counts
