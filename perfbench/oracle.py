"""Expected outputs of the transcript pipeline, computed without Spark.

The routing decision comes from DuckDB's rendition of parse -> route
(``__spark_entry__.ORACLE_PARSED_CTE``), run over the same parquet the
program reads, so a check never trusts the engine it is checking.
"""

from __future__ import annotations

import duckdb


class TranscriptOracle:
    """Per-sink counts, the three pipeline aggregates and the sink of
    every row of one fixture."""

    def __init__(self, fixture_dir: str):
        from __spark_entry__ import ORACLE_PARSED_CTE

        src = f"SELECT * FROM read_parquet('{fixture_dir}/transcripts.parquet/*.parquet')"
        cte = ORACLE_PARSED_CTE.format(derive=src)
        con = duckdb.connect()
        try:
            self.routed_rows = con.execute(
                cte + "SELECT conv_id, turn_idx, text, sink FROM routed").df()
            self.sink_counts = dict(con.execute(
                cte + "SELECT sink, count(*) FROM routed GROUP BY sink").fetchall())
            self.tool_hour = {
                (sink, tool, hour): n for sink, tool, hour, n in con.execute(
                    cte + "SELECT sink, tool, date_trunc('hour', ts), count(*) "
                    "FROM routed GROUP BY ALL").fetchall()
            }
            self.by_conv = {
                c: rest for c, *rest in con.execute(
                    cte + "SELECT conv_id, count(*), count(DISTINCT tool), "
                    "min(ts), max(ts) FROM routed GROUP BY conv_id").fetchall()
            }
        finally:
            con.close()
        self.rows = sum(self.sink_counts.values())

    def check_aggregates(self, sink_rows, tool_hour_rows, conv_rows) -> list[str]:
        """Mismatches between the collected ``PipelineResult`` aggregates
        and the oracle."""
        errs = []
        got = {r["sink"]: r["n_rows"] for r in sink_rows}
        if got != self.sink_counts:
            errs.append(f"sink_counts {got} != oracle {self.sink_counts}")
        got = {(r["sink"], r["tool"], r["hour"]): r["n_turns"] for r in tool_hour_rows}
        if got != self.tool_hour:
            errs.append(f"counts_by_sink_tool_hour: {len(set(got.items()) ^ set(self.tool_hour.items()))} groups differ")
        got = {r["conv_id"]: [r["n_turns"], r["n_tools"], r["first_ts"], r["last_ts"]]
               for r in conv_rows}
        if got != self.by_conv:
            bad = [c for c in got.keys() | self.by_conv.keys() if got.get(c) != self.by_conv.get(c)]
            errs.append(f"counts_by_conv: {len(bad)} conversations differ, e.g. {bad[0]}")
        return errs

    def check_sink(self, spark, written) -> list[str]:
        """Row count and XOR of ``xxhash64(conv_id, turn_idx, text)`` of each
        sink of the ``written`` table, against the input rows the oracle
        sends to that sink. Spark only hashes the oracle's rows; which row
        goes where is DuckDB's answer."""
        want = sink_checksums(spark.createDataFrame(self.routed_rows))
        got = sink_checksums(written)
        return [] if got == want else [f"sink checksums {got} != oracle {want}"]


def sink_checksums(df) -> dict[str, tuple[int, int]]:
    from pyspark.sql import functions as F

    rows = df.groupBy("sink").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").alias("x"),
    ).collect()
    return {r["sink"]: (r["n"], r["x"]) for r in rows}
