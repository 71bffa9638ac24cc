"""End-to-end pipeline gates: routed-row-set equality per sink, exact
per-sink aggregate counts, byte-exact text under stable ordering —
the reference's equivalence discipline (docs/validation_process.md:12-33)
applied to the rebuild."""

import pandas as pd
import pytest

from otel_arrow_spark.pipeline import build_pipeline

from .oracle import counts_oracle, parse_oracle, route_oracle


@pytest.fixture(scope="module")
def result(transcripts, catalogs):
    tools, roles = catalogs
    return build_pipeline(transcripts, tools, roles)


@pytest.fixture(scope="module")
def oracle_routed(fixture_pdf):
    return route_oracle(parse_oracle(fixture_pdf))


def test_routed_row_sets_per_sink(result, oracle_routed):
    got = result.routed.select("conv_id", "turn_idx", "sink").toPandas()
    for sink in ["sink_traces", "sink_metrics", "sink_logs", "sink_malformed"]:
        g = set(map(tuple, got[got["sink"] == sink][["conv_id", "turn_idx"]].values))
        o = set(
            map(
                tuple,
                oracle_routed[oracle_routed["sink"] == sink][["conv_id", "turn_idx"]].values,
            )
        )
        assert g == o, f"{sink}: {len(g ^ o)} rows differ"


def test_exact_sink_counts(result, oracle_routed):
    got = {r["sink"]: r["n_rows"] for r in result.sink_counts.collect()}
    exp = oracle_routed["sink"].value_counts().to_dict()
    assert got == exp


def test_counts_by_sink_tool_hour(result, oracle_routed):
    got = result.counts_by_sink_tool_hour.toPandas()
    exp = counts_oracle(oracle_routed)

    def keyed(df):
        out = {}
        for _, r in df.iterrows():
            tool = None if pd.isna(r["tool"]) else r["tool"]
            out[(r["sink"], tool, pd.Timestamp(r["hour"]))] = int(r["n_turns"])
        return out

    assert keyed(got) == keyed(exp)


def test_byte_exact_text_stable_order(result, fixture_pdf):
    got = (
        result.routed.select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = fixture_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(got) == len(exp)
    assert (got["conv_id"].values == exp["conv_id"].values).all()
    assert (got["turn_idx"].values == exp["turn_idx"].values).all()
    # byte-exact: compare as raw python strings (includes unicode/quotes/8KiB rows)
    assert all(a == b for a, b in zip(got["text"], exp["text"]))


def test_enrich_values_and_dangling(result, catalogs):
    tools_pdf = catalogs[0].toPandas().set_index("tool_id")
    sample = (
        result.routed.filter("tool is not null")
        .select("tool", "tool_kind", "vendor", "sla_tier", "role_group", "is_human")
        .toPandas()
    )
    assert len(sample) > 0
    for _, r in sample.iterrows():
        if r["tool"] in tools_pdf.index:
            assert r["tool_kind"] == tools_pdf.loc[r["tool"], "tool_kind"]
            assert r["sla_tier"] == tools_pdf.loc[r["tool"], "sla_tier"]
        else:  # dangling id → left-join nulls, row retained
            assert pd.isna(r["tool_kind"]) and pd.isna(r["vendor"])
    # role enrich applied everywhere
    assert (result.routed.filter("role_group is null").count()) == 0


def test_no_rows_lost_or_duplicated(result, fixture_pdf):
    assert result.routed.count() == len(fixture_pdf)
    dupes = (
        result.routed.groupBy("conv_id", "turn_idx")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dupes == 0


def test_fan_out_writes_observed_counts(spark, transcripts, tmp_path):
    """fan_out_writes counts come from df.observe() in the write jobs —
    they must equal an independent recount of each written sink."""
    from otel_arrow_spark.catalog import Catalog
    from otel_arrow_spark.parse import parse_turns
    from otel_arrow_spark.router import SINKS, fan_out_writes, route_turns

    routed = route_turns(parse_turns(transcripts))
    cat = Catalog(spark, str(tmp_path))
    counts = fan_out_writes(routed, cat)
    assert set(counts) == set(SINKS)
    assert sum(counts.values()) == transcripts.count()
    for sink, n in counts.items():
        assert cat.read(sink).count() == n


def test_bench_noop_and_parquet_sink_counts_agree(spark, tmp_path, capsys):
    """`run_pipeline --bench`: the noop leg observes its sink counts on
    the write job itself, the parquet leg reads the written sink back —
    both report the same counts for the same input."""
    import json

    import run_pipeline

    base = ["--input", str(tmp_path / "in"), "--output", str(tmp_path / "out"),
            "--gen-rows", "3000", "--n-slices", "2", "--bench"]
    got = {}
    for sink in ("noop", "parquet"):
        assert run_pipeline.main(base + ["--sink", sink]) == 0
        got[sink] = json.loads(capsys.readouterr().out.splitlines()[-1])
    assert got["noop"]["sink_counts"] == got["parquet"]["sink_counts"]
    assert got["noop"]["rows"] == 3000
