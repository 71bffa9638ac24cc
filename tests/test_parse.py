"""Parse-stage correctness vs the independent pandas oracle."""

import pandas as pd
import pytest

from otel_arrow_spark.parse import parse_turns

from .oracle import parse_oracle


def _collect_parsed(df):
    pdf = (
        df.select(
            "conv_id", "turn_idx", "format", "facility", "severity",
            "host", "app", "event_name", "body", "attrs",
        )
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    return pdf


@pytest.fixture(scope="module")
def spark_parsed(transcripts):
    return _collect_parsed(parse_turns(transcripts))


@pytest.fixture(scope="module")
def oracle_parsed(fixture_pdf):
    return (
        parse_oracle(fixture_pdf)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_format_detection(spark_parsed, oracle_parsed):
    assert list(spark_parsed["format"]) == list(oracle_parsed["format"])
    # all four formats are present in the fixture
    assert set(spark_parsed["format"]) == {"rfc5424", "rfc3164", "cef", "malformed"}


def test_scalar_fields(spark_parsed, oracle_parsed):
    for col in ["facility", "severity", "host", "app", "event_name", "body"]:
        s = spark_parsed[col]
        o = oracle_parsed[col]
        mism = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(s, o))
            if (pd.isna(a) != pd.isna(b)) or (not pd.isna(a) and a != b)
        ]
        assert not mism, f"{col}: first mismatches {mism[:5]}"


def test_attrs_map(spark_parsed, oracle_parsed):
    for a, b in zip(spark_parsed["attrs"], oracle_parsed["attrs"]):
        da = dict(a) if a is not None else None
        assert da == (b if b is not None or da is None else None) or da == b


def test_malformed_never_crashes(spark):
    import datetime

    rows = [("c", 0, "user", t, None, datetime.datetime(2026, 8, 16))
            for t in ["", "<>", "<abc>1 x", "CEF:0|broken", "\x00\x01", "日本語 ログ"]]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    out = parse_turns(df).collect()
    assert len(out) == len(rows)
    assert all(r["format"] in {"malformed", "cef"} for r in out)


def test_text_passthrough_byte_exact(transcripts, fixture_pdf):
    """Parse must not touch the text column (byte-exact invariant)."""
    out = (
        parse_turns(transcripts)
        .select("conv_id", "turn_idx", "text")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    exp = fixture_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert (out["text"].values == exp["text"].values).all()
