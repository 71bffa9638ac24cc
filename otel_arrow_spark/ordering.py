"""Stable ordering + skew handling (salting) utilities.

The reference sorts batches for transport/compression
(`rust/otel-arrow-rust/src/otap/transform/transport_optimize.rs:625-1175`,
`go/pkg/otel/logs/arrow/optimizer.go:44-115`); the rebuild needs the same
stable `(conv_id, turn_idx)` ordering *and* — per the north_rule — explicit
skew handling for mega-conversations, which the single-node reference never
faces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_agg(
    df: DataFrame,
    key_cols: list[str],
    salt_col: Column | None = None,
    salt_buckets: int = 16,
    **aggs: tuple[str, str],
) -> DataFrame:
    """Two-phase skew-safe aggregation: partial agg on (key, salt), final
    re-agg on key. For additive aggregates (count/sum/min/max) the result
    is identical to a direct groupBy, but no reducer ever receives a
    whole mega-key's rows.

    ``aggs``: output name → (func, input col), func in
    {count, sum, min, max}. (avg = sum/count composed by the caller —
    partial avgs don't re-aggregate.)

    Spark's AQE skew handling covers joins; skewed *aggregation* keys
    still need manual salting (north_rule: explicit skew handling).
    """
    if salt_col is not None:
        salt = salt_col
    else:
        # deterministic content-derived salt (NOT rand(): retries must
        # place rows identically): hash of all columns mod buckets
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets))
    partial_funcs = {"count": F.count, "sum": F.sum, "min": F.min, "max": F.max}
    refunc = {"count": F.sum, "sum": F.sum, "min": F.min, "max": F.max}
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(
            *[
                partial_funcs[fn](F.lit(1) if col == "*" else F.col(col)).alias(name)
                for name, (fn, col) in aggs.items()
            ]
        )
    )
    return partial.groupBy(*key_cols).agg(
        *[
            refunc[fn](F.col(name)).alias(name)
            for name, (fn, _col) in aggs.items()
        ]
    )


def salted_window_rank(df: DataFrame, chunk: int = 8192) -> DataFrame:
    """Two-phase skew-safe per-conversation rank (order-preserving).

    Buckets are contiguous *ranges* of turn_idx (``turn_idx // chunk``), NOT
    modulo salt — range buckets preserve the turn_idx order across buckets,
    so base-offset + within-bucket rank reproduces exactly
    ``row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)``.

    Phase 1: rank inside (conv_id, chunk) buckets — each window partition is
    at most ``chunk`` rows no matter how large the conversation.
    Phase 2: per-bucket counts (tiny: one row per bucket) get cumulative
    base offsets via a window over the bucket index, then broadcast-join
    back. A 10^8-turn mega-conversation never lands on one task.
    """
    from pyspark.sql import Window

    bucketed = df.withColumn("_chunk", (F.col("turn_idx") / chunk).cast("long"))
    w = Window.partitionBy("conv_id", "_chunk").orderBy("turn_idx")
    ranked = bucketed.withColumn("_bucket_rank", F.row_number().over(w))
    sizes = bucketed.groupBy("conv_id", "_chunk").agg(
        F.count(F.lit(1)).alias("_bucket_n")
    )
    w2 = Window.partitionBy("conv_id").orderBy("_chunk")
    offsets = sizes.withColumn(
        "_base", F.coalesce(F.sum("_bucket_n").over(w2) - F.col("_bucket_n"), F.lit(0))
    ).select("conv_id", "_chunk", "_base")
    out = ranked.join(F.broadcast(offsets), ["conv_id", "_chunk"], "left")
    return (
        out.withColumn("turn_rank", (F.col("_base") + F.col("_bucket_rank")).cast("int"))
        .drop("_chunk", "_bucket_rank", "_base")
    )
