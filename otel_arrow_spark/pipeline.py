"""End-to-end parse → enrich → route → aggregate pipeline.

The dataflow analog of the reference's df_engine
(`rust/otap-dataflow/crates/engine/src/runtime_pipeline.rs:92-205`): a
declarative DAG — source read → narrow parse/enrich → route (narrow) →
partitioned sink write + per-sink aggregation (one shuffle). Node channels
become Catalyst plan edges; control-plane counters become the returned
aggregate DataFrames + the lineage ledger.

Run via ``spark-submit --py-files otel_arrow_spark.zip run_pipeline.py``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .aggregate import counts_by_conv, counts_by_sink_tool_hour
from .enrich import enrich_turns
from .parse import parse_turns
from .router import route_turns, sink_counts


@dataclass
class PipelineResult:
    routed: DataFrame
    sink_counts: DataFrame
    counts_by_sink_tool_hour: DataFrame
    counts_by_conv: DataFrame


def build_pipeline(
    transcripts: DataFrame,
    tool_catalog: DataFrame,
    role_catalog: DataFrame,
) -> PipelineResult:
    """Compose the full logical plan (lazy; nothing executes here).

    parse + enrich(broadcast) + route are all narrow — one fused pass
    over the input, no shuffle until the aggregations. This is the
    property that makes the job scale linearly with executors (the ≥0.8
    scaling-efficiency requirement). The parse is pure Catalyst regex
    expressions (:func:`parse.parse_turns`): 0.857 full-job scaling
    efficiency local[2]→local[8] at 20M rows (`BENCH/BASELINE.md`).
    """
    parsed = parse_turns(transcripts)
    enriched = enrich_turns(parsed, tool_catalog, role_catalog)
    routed = route_turns(enriched)
    return PipelineResult(
        routed=routed,
        sink_counts=sink_counts(routed),
        counts_by_sink_tool_hour=counts_by_sink_tool_hour(routed),
        counts_by_conv=counts_by_conv(routed),
    )


def run_pipeline(
    spark: SparkSession,
    transcripts_path: str,
    tool_catalog_path: str,
    role_catalog_path: str,
    output_catalog=None,
) -> PipelineResult:
    """Read inputs, build the plan, optionally materialize the routed sink."""
    transcripts = spark.read.parquet(transcripts_path)
    tools = spark.read.parquet(tool_catalog_path)
    roles = spark.read.parquet(role_catalog_path)
    result = build_pipeline(transcripts, tools, roles)
    if output_catalog is not None:
        from .router import write_routed

        write_routed(result.routed, output_catalog)
    return result
