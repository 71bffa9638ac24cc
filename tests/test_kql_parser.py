"""KQL parser: query strings must compile to the same results as the
hand-written DataFrame plans (the reference gates its parser with
per-operator parse tests, `kql-parser/src/tabular_expressions.rs:3184+`,
and end-to-end included/dropped assertions,
`engine-recordset-otlp-bridge/tests/otlp_kql_recordset.rs`)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from otel_arrow_spark.operators.kql_parser import KqlError, kql, parse_expr

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet").cache()


@pytest.fixture(scope="module")
def part(spark):
    return spark.read.parquet(f"{SF}/part.parquet").cache()


def same(a, b, key=None):
    ka = sorted(map(tuple, a.collect()))
    kb = sorted(map(tuple, b.collect()))
    assert ka == kb, f"{ka[:3]} != {kb[:3]} (lens {len(ka)}/{len(kb)})"


def test_where_comparison(events):
    got = kql(events, "events | where value > 50 and event_type == 'click'")
    exp = events.filter((F.col("value") > 50) & (F.col("event_type") == "click"))
    same(got, exp)


def test_where_in_and_bang_in(events):
    got = kql(events, "events | where event_type in ('click', 'view')")
    exp = events.filter(F.col("event_type").isin("click", "view"))
    same(got, exp)
    got2 = kql(events, "events | where event_type !in ('click', 'view')")
    exp2 = events.filter(~F.col("event_type").isin("click", "view"))
    same(got2, exp2)


def test_case_insensitive_ops(events):
    got = kql(events, "events | where event_type =~ 'CLICK'")
    exp = events.filter(F.lower("event_type") == "click")
    same(got, exp)
    got2 = kql(events, "events | where event_type in~ ('CLICK', 'View')")
    assert got2.count() == events.filter(
        F.col("event_type").isin("click", "view")
    ).count()


def test_contains_has_matches(part):
    got = kql(part, "part | where p_name contains 'GREEN'")
    exp = part.filter(F.lower("p_name").contains("green"))
    same(got, exp)
    got2 = kql(part, r"part | where p_name matches regex '^\w+ green'")
    exp2 = part.filter(F.col("p_name").rlike(r"^\w+ green"))
    same(got2, exp2)


def test_extend_project_arith(events):
    got = kql(
        events,
        "events | extend v2 = value * 2 + 1 | project event_id, v2",
    )
    exp = events.select(
        "event_id", (F.col("value") * 2 + 1).alias("v2")
    )
    same(got, exp)


def test_project_keep_away_rename(part):
    got = kql(part, "part | project-keep p_partkey, p_retail* | project-rename key = p_partkey")
    assert got.columns == ["key", "p_retailprice"]
    got2 = kql(part, "part | project-away p_com*, p_container, p_mfgr, p_brand, p_type, p_size, p_retailprice, p_name")
    assert got2.columns == ["p_partkey"]


def test_summarize_by_bin(events):
    got = kql(
        events,
        "events | summarize n = count(), s = sum(value), m = max(value) "
        "by event_type, h = bin(ts, 1h)",
    )
    exp = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.max("value").alias("m"),
    )
    same(got.select("event_type", "h", "n", "s", "m"),
         exp.select("event_type", "h", "n", "s", "m"))


def test_bin_subsecond_widths(spark):
    """bin() with ms / fractional-second widths keeps sub-second
    precision (unix_timestamp would truncate every event into the x.0
    bucket)."""
    from otel_arrow_spark.operators.kql import bin_

    rows = [("2024-01-01 00:00:00.125",), ("2024-01-01 00:00:00.375",),
            ("2024-01-01 00:00:00.625",), ("2024-01-01 00:00:01.100",)]
    df = spark.createDataFrame(rows, "s string").withColumn(
        "ts", F.col("s").cast("timestamp")
    )
    got = [str(r.b) for r in df.select(bin_(F.col("ts"), "250ms").alias("b"))
           .orderBy("b").collect()]
    assert got == [
        "2024-01-01 00:00:00",
        "2024-01-01 00:00:00.250000",
        "2024-01-01 00:00:00.500000",
        "2024-01-01 00:00:01",
    ]
    # fractional seconds spelled as seconds work identically
    got2 = [str(r.b) for r in df.select(bin_(F.col("ts"), "0.5s").alias("b"))
            .distinct().orderBy("b").collect()]
    assert got2 == ["2024-01-01 00:00:00", "2024-01-01 00:00:00.500000",
                    "2024-01-01 00:00:01"]
    # TIMESTAMP_NTZ inputs bucket identically (cast chain handles them)
    ntz = df.select(F.col("s").cast("timestamp_ntz").alias("ts"))
    got3 = [str(r.b) for r in ntz.select(bin_(F.col("ts"), "250ms").alias("b"))
            .orderBy("b").collect()]
    assert got3 == got


def test_summarize_dcount_numeric_bin(events):
    got = kql(events, "events | summarize u = dcount(user_id) by b = bin(value, 25)")
    exp = events.groupBy(
        (F.floor(F.col("value") / F.lit(25)) * F.lit(25)).alias("b")
    ).agg(F.countDistinct("user_id").alias("u"))
    same(got, exp)


def test_order_take_count(events):
    got = kql(events, "events | order by value desc, event_id asc | take 5")
    exp = events.orderBy(F.col("value").desc(), F.col("event_id")).limit(5)
    assert [r.event_id for r in got.collect()] == [
        r.event_id for r in exp.collect()
    ]
    n = kql(events, "events | where value > 90 | count").collect()[0]["count_"]
    assert n == events.filter(F.col("value") > 90).count()


def test_scalar_functions(events):
    got = kql(
        events,
        "events | project event_id, "
        "a = iff(value > 50, 'hi', 'lo'), "
        "b = case(value > 90, 'top', value > 50, 'mid', 'rest'), "
        "c = strcat(event_type, '-', tostring(user_id)), "
        "d = substring(event_type, 0, 2), "
        "e = strlen(event_type), "
        "f = coalesce(props, '{}')",
    )
    exp = events.select(
        "event_id",
        F.when(F.col("value") > 50, "hi").otherwise("lo").alias("a"),
        F.when(F.col("value") > 90, "top")
        .when(F.col("value") > 50, "mid")
        .otherwise("rest")
        .alias("b"),
        F.concat("event_type", F.lit("-"), F.col("user_id").cast("string")).alias("c"),
        F.substring("event_type", 1, 2).alias("d"),
        F.length("event_type").alias("e"),
        F.coalesce("props", F.lit("{}")).alias("f"),
    )
    same(got, exp)


def test_extract_regex_and_json(events):
    got = kql(
        events,
        "events | project k = extract_json('$.k', props), "
        "w = extract('([a-z]+)', 1, event_type)",
    )
    exp = events.select(
        F.get_json_object("props", "$.k").alias("k"),
        F.regexp_extract("event_type", "([a-z]+)", 1).alias("w"),
    )
    same(got, exp)


def test_distinct(events):
    got = kql(events, "events | distinct event_type")
    exp = events.select("event_type").distinct()
    same(got, exp)


def test_datetime_literal(events):
    got = kql(events, "events | where ts >= datetime('2026-01-01') | count")
    exp = events.filter(F.col("ts") >= F.lit("2026-01-01").cast("timestamp")).count()
    assert got.collect()[0]["count_"] == exp


def test_let_bindings(events):
    got = kql(
        events,
        "let lo = 40; let hi = lo + 20; "
        "events | where value between (lo .. hi) | count",
    ).collect()[0]["count_"]
    exp = events.filter((F.col("value") >= 40) & (F.col("value") <= 60)).count()
    assert got == exp


def test_dynamic_literals(events):
    got = kql(
        events,
        "events | where event_type in ('click','view') "
        "| extend arr = dynamic([1, 2, 3]), m = dynamic({'a': 1, 'b': 2}) "
        "| project event_id, n = array_length(arr), b = m['b'] | take 3",
    ).collect()
    assert all(r.n == 3 and r.b == 2 for r in got)


def test_dynamic_map_literal_is_a_bag(spark):
    """A ``dynamic({…})`` literal feeds the bag functions like bag_pack
    output, while accessors and dynamic_to_json read it as before."""
    row = kql(
        spark.range(1),
        "print ks = bag_keys(dynamic({'x': 1, 'y': 2})),"
        " h = bag_has_key(dynamic({'x': 1}), 'x'),"
        " h0 = bag_has_key(dynamic({'x': 1}), 'z'),"
        " mj = dynamic_to_json("
        "bag_merge(dynamic({'x': 1}), dynamic({'y': 2}))),"
        " x = dynamic({'x': 1})['x'],"
        " j = dynamic_to_json(dynamic({'y': 1, 'x': 2}))",
    ).collect()[0]
    assert row.ks == ["x", "y"]
    assert (row.h, row.h0) == (True, False)
    assert row.mj == '{"x":1,"y":2}'
    assert row.x == 1
    assert row.j == '{"y":1,"x":2}'
    # an extended literal column keeps both readings in later stages
    got = kql(
        spark.range(1),
        "T | extend m = dynamic({'x': 1, 'y': 2})"
        " | project x = m['x'], ks = bag_keys(m)",
        tables={"T": spark.range(1)},
    ).collect()[0]
    assert (got.x, got.ks) == (1, ["x", "y"])


@pytest.fixture(scope="module")
def lex_rows(spark):
    return spark.createDataFrame(
        [("a", "x by y", "C:\\", 1, "=>\\"), ("a", "z", "D:", 2, "go"),
         ("b", "x by y", "C:\\", 3, "go")],
        "k string, s string, p string, v long, et string",
    )


@pytest.mark.parametrize("query, expected", [
    # verbatim literal ending in `\` before `|`, `;` and `,`
    (r"T | where p != @'C:\' | project v", [(2,)]),
    (r"let d = @'C:\'; T | where p == d | project v", [(1,), (3,)]),
    (r"T | where v == 1 | extend a = @'C:\', b = 2 | project a, b",
     [("C:\\", 2)]),
    # an escaped backslash ends the literal
    (r"T | where v == 1 | extend x = 'a\\', y = 2 | project x, y",
     [("a\\", 2)]),
    (r"T | where v == 1 | project x = 'a\\', v", [("a\\", 1)]),
    # `by` inside a literal is not the by-clause
    (r'T | summarize c = countif(s == "x by y") by k',
     [("a", 1), ("b", 1)]),
    (r'T | summarize c = countif(s == "x by y")', [(2,)]),
    (r'T | partition by k (summarize c = countif(s == "x by y"))',
     [("a", 1), ("b", 1)]),
    (r'T | where v == 1 | mv-apply t = dynamic(["x by y", "q"]) on'
     r' (summarize c = countif(t == "x by y")) | project v, c', [(1, 1)]),
    # `)` inside a literal does not close a fork leg
    (r"T | fork (where s != @')\' and v > 1 | project v)", [(2,), (3,)]),
    # `=>` inside a literal does not start a scan step's assignments
    (r'T | sort by v asc | scan declare (n: long = 0) with'
     r' (step s: et == "=>\\" => n = n + 1) | project v, n', [(1, 1)]),
])
def test_one_string_literal_rule(lex_rows, query, expected):
    from otel_arrow_spark.operators.kql_parser import kql_fork

    if "| fork" in query:
        out = kql_fork(lex_rows, query)["leg1"]
    else:
        out = kql(lex_rows, query, tables={"T": lex_rows})
    assert sorted(map(tuple, out.collect())) == expected


def test_ago_is_timestamp(events):
    out = kql(events, "events | where ts < ago(1h) | count").collect()
    assert out[0]["count_"] >= 0


def test_errors():
    with pytest.raises(KqlError):
        parse_expr("1 +")
    with pytest.raises(KqlError):
        parse_expr("unknownfn(1)")
    with pytest.raises(KqlError):
        kql(None, "T | frobnicate x")


def test_pipeline_filters_push_to_scan(spark):
    """Parsed `where` on a literal column must reach the parquet scan as
    a pushed filter — Catalyst subsumes the reference's IR optimizer."""
    # lineitem is NOT cached by this module's fixtures — a cached read of
    # the same path would satisfy the query from InMemoryTableScan and
    # hide the scan-level pushdown this test asserts.
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    out = kql(df, "T | where l_quantity > 30 | project l_orderkey, l_quantity")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThan(l_quantity,30" in plan, plan


def test_attached_record_accessors(spark, transcripts):
    """Scoped paths over attached records — resource./scope. structs with
    an attributes map (reference `value_accessor.rs`, summarize over
    attached accessors `tabular_expressions.rs:350-490`)."""
    from otel_arrow_spark.operators.attrs import attach_records
    from otel_arrow_spark.parse import parse_turns

    t = attach_records(parse_turns(transcripts))
    out = kql(
        t,
        "T | where isnotnull(resource.attributes['host.name'])"
        " | extend hn = resource.attributes['host.name'],"
        "          fa = scope.attributes['format']"
        " | summarize n = count() by hn, fa",
    ).collect()
    # rfc5424/3164 hosts are host-N; CEF turns carry the product name
    assert out and all(
        r.hn.startswith("host-") or r.fa == "cef" for r in out
    )
    # cross-check one group against a direct aggregation
    direct = (
        parse_turns(transcripts)
        .filter(F.col("host").isNotNull())
        .groupBy("host", "format")
        .count()
        .collect()
    )
    assert {(r.hn, r.fa): r.n for r in out} == {
        (r.host, r.format): r["count"] for r in direct
    }


def test_attached_accessor_missing_value_is_null(spark, transcripts):
    """Malformed turns have no host: the accessor yields NULL (optional
    column semantics), never an ANSI missing-key error."""
    from otel_arrow_spark.operators.attrs import attach_records
    from otel_arrow_spark.parse import parse_turns

    t = attach_records(parse_turns(transcripts))
    rows = kql(
        t,
        "T | where format == 'malformed'"
        " | project hn = resource.attributes['host.name']",
    ).collect()
    assert rows and all(r.hn is None for r in rows)


def test_summarize_postpipe_stages(events):
    out = kql(
        events,
        "events | summarize n = count() by event_type"
        " | extend big = iff(n > 100, 'y', 'n')"
        " | where big == 'y' | order by n desc | take 3",
    ).collect()
    assert 0 < len(out) <= 3
    assert all(r.big == "y" and r.n > 100 for r in out)
    assert [r.n for r in out] == sorted((r.n for r in out), reverse=True)


def test_parse_json_variant_paths(spark):
    """parse_json produces a VARIANT (KQL dynamic, kql.pest:198-203):
    paths chain through objects and arrays via try_variant_get, a
    missing path is NULL (not an ANSI error), and to*() conversions cast
    the variant to concrete types."""
    df = spark.createDataFrame(
        [(1, '{"k": 7, "tags": ["a", "b"], "meta": {"v": 1.5}}'),
         (2, '{"k": 9}')],
        "id int, props string",
    )
    rows = {
        r.id: r
        for r in kql(
            df,
            "T | project id,"
            " k = tolong(parse_json(props)['k']),"
            " v = todouble(parse_json(props)['meta']['v']),"
            " t1 = tostring(parse_json(props).tags[1]),"
            " gone = tolong(parse_json(props)['absent'])",
        ).collect()
    }
    assert rows[1].k == 7 and rows[2].k == 9
    assert rows[1].v == 1.5 and rows[2].v is None
    assert rows[1].t1 == "b" and rows[2].t1 is None
    assert rows[1].gone is None and rows[2].gone is None


def test_top_is_take_ordered(events):
    """`top N by e` sorts+limits in one stage and must plan a
    TakeOrderedAndProject (per-partition heaps), never a global Sort."""
    got = kql(events, "events | top 5 by value desc, event_id asc"
                      " | project event_id, value")
    exp = (events.orderBy(F.col("value").desc(), F.col("event_id").asc())
           .limit(5).select("event_id", "value"))
    same(got, exp)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    # bare expr defaults to descending (KQL)
    got2 = kql(events, "events | top 3 by value | project value").collect()
    assert [r.value for r in got2] == sorted(
        (r.value for r in got2), reverse=True
    )


def test_mv_expand(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "c")], "id int, s string"
    )
    out = kql(
        df, 'T | mv-expand tok = split(s, " ") | where tok != ""'
    ).collect()
    assert sorted((r.id, r.tok) for r in out) == [(1, "a"), (1, "b"), (3, "c")]
    # null arrays yield no rows (KQL mv-expand default)
    df2 = spark.createDataFrame([(1, None)], "id int, s string")
    assert kql(df2, 'T | mv-expand tok = split(s, " ")').count() == 0
    with pytest.raises(KqlError):
        kql(df, 'T | mv-expand a = split(s, " "), b = split(s, ",")')


def test_join_kinds_and_column_dedup(spark):
    left = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, s string, v int"
    )
    right = spark.createDataFrame(
        [(1, "x", 7), (2, "y", 8), (9, "z", 9)], "k int, s string, w int"
    )
    t = {"L": left, "R": right}
    # bare key merges into one column; colliding non-key col renamed s1
    out = kql(left, "L | join kind=inner R on k | order by k asc", tables=t)
    assert out.columns == ["k", "s", "v", "s1", "w"]
    assert [(r.k, r.s, r.s1) for r in out.collect()] == [
        (1, "a", "x"), (2, "b", "y")
    ]
    # $left/$right pair form keeps both key columns
    out2 = kql(
        left,
        "L | join kind=leftanti (R | where w >= 8) on $left.k == $right.k",
        tables=t,
    )
    assert sorted(r.k for r in out2.collect()) == [1, 3]
    # subquery source composes stages before the join
    out3 = kql(
        left,
        "L | join kind=leftouter (R | project k, w) on k | order by k asc",
        tables=t,
    )
    assert [(r.k, r.w) for r in out3.collect()] == [(1, 7), (2, 8), (3, None)]
    with pytest.raises(KqlError):
        kql(left, "L | join kind=inner MISSING on k", tables=t)
    with pytest.raises(KqlError):
        kql(left, "L | join kind=bogus R on k", tables=t)


def test_join_innerunique_dedups_left(spark):
    left = spark.createDataFrame(
        [(1, "first"), (1, "dup"), (2, "only")], "k int, tag string"
    )
    right = spark.createDataFrame([(1, 100), (2, 200)], "k int, w int")
    out = kql(left, "L | join R on k", tables={"L": left, "R": right})
    # KQL default innerunique: one left row per key survives
    assert sorted(r.k for r in out.collect()) == [1, 2]


def test_union_outer_and_inner(spark):
    a = spark.createDataFrame([(1, "x")], "id int, s string")
    b = spark.createDataFrame([(2, 5.0)], "id int, v double")
    t = {"A": a, "B": b}
    out = kql(a, "A | union B | order by id asc", tables=t).collect()
    assert [(r.id, r.s, r.v) for r in out] == [(1, "x", None), (2, None, 5.0)]
    out2 = kql(a, "A | union kind=inner B", tables=t)
    assert out2.columns == ["id"]
    assert sorted(r.id for r in out2.collect()) == [1, 2]


def test_leading_identifier_resolves_from_tables(spark):
    a = spark.createDataFrame([(1,)], "id int")
    b = spark.createDataFrame([(2,), (3,)], "id int")
    out = kql(a, "B | where id > 2", tables={"A": a, "B": b})
    assert [r.id for r in out.collect()] == [3]


def test_join_right_semi_anti_and_pair_rename(spark):
    left = spark.createDataFrame([(1,), (2,)], "k int")
    right = spark.createDataFrame(
        [(2, "a"), (3, "b")], "k int, tag string"
    )
    t = {"L": left, "R": right}
    # rightsemi/rightanti output the RIGHT side's columns
    semi = kql(left, "L | join kind=rightsemi R on k", tables=t)
    assert semi.columns == ["k", "tag"]
    assert [(r.k, r.tag) for r in semi.collect()] == [(2, "a")]
    anti = kql(left, "L | join kind=rightanti R on k", tables=t)
    assert [(r.k, r.tag) for r in anti.collect()] == [(3, "b")]
    # same-name $left/$right key: right's column renamed k1, both kept
    out = kql(
        left, "L | join kind=inner R on $left.k == $right.k", tables=t
    )
    assert out.columns == ["k", "k1", "tag"]
    assert [(r.k, r.k1) for r in out.collect()] == [(2, 2)]


def test_parse_operator(spark):
    df = spark.createDataFrame(
        [(1, "dur=123 ms code=OK"), (2, "dur=9 ms code=ERR"), (3, "garbage")],
        "id int, line string",
    )
    out = {
        r.id: r
        for r in kql(
            df, 'T | parse line with "dur=" d:long " ms code=" code'
        ).collect()
    }
    assert out[1].d == 123 and out[1].code == "OK"
    assert out[2].d == 9 and out[2].code == "ERR"
    # unmatched: typed field casts '' -> NULL, string field stays ''
    assert out[3].d is None and out[3].code == ""
    # leading * skips an arbitrary prefix
    out2 = {
        r.id: r.c
        for r in kql(df, 'T | parse line with * "code=" c').collect()
    }
    assert out2[1] == "OK" and out2[2] == "ERR" and out2[3] == ""
    with pytest.raises(KqlError):
        kql(df, 'T | parse line with "only literals"')


def test_let_table_binding(spark):
    ev = spark.createDataFrame(
        [(1, "click"), (2, "view"), (3, "click")], "id int, t string"
    )
    out = kql(
        ev,
        "let Clicks = T | where t == 'click';"
        " Clicks | summarize n = count()",
        tables={"T": ev},
    ).collect()
    assert out[0].n == 2
    # table lets compose with joins
    out2 = kql(
        ev,
        "let Clicks = T | where t == 'click';"
        " T | join kind=leftsemi Clicks on id",
        tables={"T": ev},
    )
    assert sorted(r.id for r in out2.collect()) == [1, 3]


def test_conditional_and_analytic_aggregates(spark):
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", 30.0), (3, "b", 20.0), (4, "b", None)],
        "id int, g string, v double",
    )
    out = {
        r.g: r
        for r in kql(
            df,
            "T | summarize s = sumif(v, v >= 20.0),"
            "  m = maxif(id, isnotnull(v)),"
            "  am = arg_max(v, id), an = arg_min(v, id),"
            "  sd = round(stdev(v), 4) by g",
        ).collect()
    }
    assert out["a"].s == 30.0 and out["b"].s == 20.0
    assert out["a"].m == 2 and out["b"].m == 3
    # arg_max/arg_min return the id at the extreme v; NULL v never wins
    assert out["a"].am == 2 and out["a"].an == 1
    assert out["b"].am == 3 and out["b"].an == 3
    assert out["b"].sd is None  # single non-null value, sample stdev


def test_make_series_gap_fill_and_axis(spark):
    df = spark.createDataFrame(
        [("a", "2024-01-01 00:30:00", 1.0),
         ("a", "2024-01-01 02:15:00", 3.0),
         ("a", "2024-01-01 02:45:00", 5.0),
         ("b", "2024-01-01 01:10:00", 7.0),
         ("a", "2024-01-02 00:00:00", 9.0)],  # outside [from, to)
        "k string, ts string, v double",
    ).selectExpr("k", "cast(ts as timestamp) ts", "v")
    out = {
        r.k: r
        for r in kql(
            df,
            "T | make-series s = sum(v) default = 0.0 on ts"
            " from datetime(2024-01-01)"
            " to datetime(2024-01-01 04:00:00) step 1h by k",
        ).collect()
    }
    assert [float(x) for x in out["a"].s] == [1.0, 0.0, 8.0, 0.0]
    assert [float(x) for x in out["b"].s] == [0.0, 7.0, 0.0, 0.0]
    # regular timestamp axis, one entry per bin
    axis = [str(t) for t in out["a"].ts]
    assert axis == [
        "2024-01-01 00:00:00", "2024-01-01 01:00:00",
        "2024-01-01 02:00:00", "2024-01-01 03:00:00",
    ]
    with pytest.raises(KqlError):
        kql(df, "T | make-series s = sum(v) on ts from datetime(2024-01-01)"
                " to datetime(2024-01-01) step 1h")  # empty grid


def test_lookup_broadcasts_dimension(spark):
    left = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, s string"
    )
    dim = spark.createDataFrame([(1, "x"), (2, "y")], "k int, tag string")
    t = {"L": left, "D": dim}
    out = kql(left, "L | lookup D on k | order by k asc", tables=t)
    # dimension contract: explicit broadcast regardless of size estimate
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert [(r.k, r.tag) for r in out.collect()] == [
        (1, "x"), (2, "y"), (3, None)  # default kind=leftouter
    ]
    inner = kql(left, "L | lookup kind=inner (D | project k, tag) on k",
                tables=t)
    assert sorted(r.k for r in inner.collect()) == [1, 2]
    # unlike `join` (innerunique), lookup keeps every left row
    dup_left = spark.createDataFrame([(1, "p"), (1, "q")], "k int, s string")
    both = kql(dup_left, "L | lookup D on k", tables={"L": dup_left, "D": dim})
    assert sorted(r.s for r in both.collect()) == ["p", "q"]
    with pytest.raises(KqlError):
        kql(left, "L | lookup D on k + 1", tables=t)


def test_literal_sources_range_datatable_print(spark):
    out = kql(None, "range x from 1 to 10 step 3")
    assert [r.x for r in out.collect()] == [1, 4, 7, 10]  # inclusive, KQL
    out = kql(
        None,
        'datatable(name: string, v: long)\n'
        '  ["a", 1, "b", 2, "c", 3]\n'
        "| where v > 1 | order by v asc",
    )
    assert [(r.name, r.v) for r in out.collect()] == [("b", 2), ("c", 3)]
    assert dict(out.dtypes) == {"name": "string", "v": "bigint"}
    one = kql(None, 'print a = 1 + 2, strcat("x", "y")').collect()[0]
    assert one.a == 3 and one.print_1 == "xy"
    # a literal source is a valid join source too
    base = spark.range(5).selectExpr("id as x")
    out = kql(
        base,
        "T | join kind=inner"
        " (range x from 0 to 3 step 1 | extend y = x * 10) on x",
        tables={"T": base},
    )
    assert sorted((r.x, r.y) for r in out.collect()) == [
        (0, 0), (1, 10), (2, 20), (3, 30)
    ]
    with pytest.raises(KqlError):
        kql(None, 'datatable(k: string, v: long) ["a", 1, "b"]')  # 3 % 2
    with pytest.raises(KqlError):
        kql(None, "datatable(v: frobnicate) [1]")


def test_sample_is_deterministic_take_ordered(spark):
    df = spark.range(100).selectExpr("id", "id % 7 as g")
    a = kql(df, "T | sample 10")
    b = kql(df.repartition(13), "T | sample 10")
    # deterministic across runs AND partitionings (hash-ordered pick)
    assert sorted(r.id for r in a.collect()) == sorted(
        r.id for r in b.collect()
    )
    assert a.count() == 10
    # per-partition heaps, no global sort shuffle
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    vals = kql(df, "T | sample-distinct 3 of g").collect()
    assert len(vals) == 3
    assert len({r.g for r in vals}) == 3


def test_top_nested_hierarchical_topk(spark):
    rows = (
        [("t1", "h1", 10)] * 4 + [("t1", "h2", 1)] * 3
        + [("t2", "h1", 5)] * 3 + [("t2", "h3", 2)] * 2
        + [("t3", "h9", 100)]
    )
    df = spark.createDataFrame(rows, "tool string, host string, v int")
    out = kql(
        df,
        "T | top-nested 2 of tool by count(),"
        " top-nested 1 of host by s = sum(v)",
    )
    assert out.columns == ["tool", "aggregated_tool", "host", "s"]
    got = sorted((r.tool, r.aggregated_tool, r.host, r.s)
                 for r in out.collect())
    # t1 (7 rows) and t2 (5 rows) win level 1; per-tool best host by sum(v)
    assert got == [("t1", 7, "h1", 40), ("t2", 5, "h1", 15)]
    with pytest.raises(KqlError):
        kql(df, "T | top-nested 2 of tool")
    # `with others = "label"`: one catch-all row per kept parent combo,
    # aggregated from the RAW excluded rows; terminal (deeper cols NULL)
    out2 = kql(
        df,
        'T | top-nested 2 of tool with others = "rest" by count(),'
        ' top-nested 1 of host with others = "more" by s = sum(v)',
    )
    got2 = sorted(
        ((r.tool, r.aggregated_tool, r.host, r.s) for r in out2.collect()),
        key=str,
    )
    # level-1 others: t3's single row; level-2 others per kept tool:
    # t1's h2 rows (sum 3), t2's h3 rows (sum 4)
    assert sorted(got2, key=str) == sorted([
        ("t1", 7, "h1", 40), ("t2", 5, "h1", 15),
        ("rest", 1, None, None),
        ("t1", 7, "more", 3), ("t2", 5, "more", 4),
    ], key=str)
    # the label's type must match -> non-string level column refuses
    with pytest.raises(KqlError):
        kql(df, 'T | top-nested 1 of v with others = "x" by count()')


def test_scalar_suite2_functions(spark):
    df = spark.createDataFrame(
        [("abcabc", -4.5, "2024-03-15 13:45:30")],
        "s string, x double, ts string",
    ).selectExpr("s", "x", "cast(ts as timestamp) ts")
    r = kql(
        df,
        'T | project sg = sign(x), l2 = log2(8.0), rv = reverse(s),'
        ' rp = strrep(s, 2), ix = indexof(s, "ca"), ix2 = indexof(s, "zz"),'
        ' co = countof(s, "bc"), hx = tohex(255), sw = startofweek(ts),'
        ' dw = dayofweek(ts), hd = hourofday(ts), ty = gettype(x),'
        ' ea = extract_all("[a-z](b)", s), cp = capture(s, "a(b+)c"),'
        ' sl = array_slice(split(s, ""), 1, 3),'
        ' dd = datetime_diff("hour", ts, datetime(2024-03-15)),'
        ' da = datetime_add("day", 2, ts), tsp = totimespan("90s")',
    ).collect()[0]
    assert r.sg == -1.0 and r.l2 == 3.0
    assert r.rv == "cbacba" and r.rp == "abcabcabcabc"
    assert r.ix == 2 and r.ix2 == -1 and r.co == 2  # 0-based, -1 absent
    assert r.hx == "ff"
    assert str(r.sw) == "2024-03-11 00:00:00"  # Monday week start
    assert r.dw == 4 and r.hd == 13 and r.ty == "double"
    assert list(r.ea) == ["b", "b"] and r.cp == "b"
    assert list(r.sl) == ["b", "c", "a"]
    assert r.dd == 13
    assert str(r.da) == "2024-03-17 13:45:30"
    assert r.tsp.total_seconds() == 90.0
    with pytest.raises(KqlError):
        kql(df, 'T | project z = totimespan("soon")')
    # inverted window is NOT an error in Kusto — it yields empty
    rz = kql(
        df, 'T | project z = array_slice(split(s, ""), 3, 1)'
    ).collect()[0]
    assert list(rz.z) == []


def test_search_all_string_columns(spark):
    df = spark.createDataFrame(
        [("d1", "Web", "alpha beta"), ("d2", "code", "gamma"),
         ("d3", "ops", "WEBBED feet")],
        "id string, src string, text string",
    )
    got = sorted(r.id for r in kql(df, 'T | search "web"').collect())
    assert got == ["d1", "d3"]  # matches src on d1, text on d3
    with pytest.raises(KqlError):
        kql(df.select(F.col("id").cast("int")), 'T | search "x"')


def test_evaluate_pivot(spark):
    df = spark.createDataFrame(
        [("g1", "a", 1.0), ("g1", "a", 2.0), ("g1", "b", 3.0),
         ("g2", "b", 4.0)],
        "g string, k string, v double",
    )
    out = kql(df, 'T | project g, k | evaluate pivot(k, count(), "a", "b")')
    rows = {r.g: (r.a, r.b) for r in out.collect()}
    assert rows == {"g1": (2, 1), "g2": (None, 1)}
    # discovered values are sorted -> deterministic column order
    out2 = kql(df, "T | project g, k | evaluate pivot(k, count())")
    assert out2.columns == ["g", "a", "b"]
    # aggregate other than count
    out3 = kql(df, 'T | project g, k, v | evaluate pivot(k, sum(v), "a")')
    assert {r.g: r.a for r in out3.collect()} == {"g1": 3.0, "g2": None}
    with pytest.raises(KqlError):
        kql(df, "T | evaluate frobnicate(k)")
    # a column whose NAME collides with a token in the agg expr (here
    # the function name `count` and a string-literal word) must stay a
    # group key — only resolved column REFERENCES leave the key set
    df2 = spark.createDataFrame(
        [("g1", "a", 7), ("g1", "b", 7), ("g2", "a", 8)],
        "g string, k string, count int",
    )
    out4 = kql(df2, 'T | evaluate pivot(k, count(), "a", "b")')
    assert set(out4.columns) == {"g", "count", "a", "b"}
    rows4 = {(r.g, r["count"]): (r.a, r.b) for r in out4.collect()}
    assert rows4 == {("g1", 7): (1, 1), ("g2", 8): (1, None)}
    # …but a column that IS referenced by the agg leaves the keys,
    # while unreferenced columns stay
    df3 = spark.createDataFrame(
        [("g1", "a", 1.0, "v"), ("g2", "b", 2.0, "v")],
        "g string, k string, v double, label string",
    )
    out5 = kql(df3, 'T | evaluate pivot(k, sum(v), "a", "b")')
    assert set(out5.columns) == {"g", "label", "a", "b"}


def test_mv_apply_per_record_subquery(spark):
    df = spark.createDataFrame(
        [("d1", "a b c a b"), ("d2", "x y"), ("d3", "a a a"), ("d4", "")],
        "id string, text string",
    )
    out = kql(
        df,
        'T | mv-apply tok = split(text, " ") on ('
        "where strlen(tok) > 0"
        " | summarize n_toks = count(), u_toks = dcount(tok))",
    )
    rows = {r.id: (r.n_toks, r.u_toks) for r in out.collect()}
    # d4's only token is '' -> filtered -> the all-filtered record drops
    # (KQL mv-apply with an aggregating subquery keeps matching rows)
    assert rows == {"d1": (5, 3), "d2": (2, 2), "d3": (3, 1)}
    assert "_mvid" not in out.columns
    # duplicate input rows stay distinct records (the row-id's job)
    dup = spark.createDataFrame(
        [("z", "p q"), ("z", "p q")], "id string, text string"
    )
    out2 = kql(
        dup,
        'T | mv-apply tok = split(text, " ") on ('
        "summarize n = count())",
    )
    assert [r.n for r in out2.collect()] == [2, 2]
    # non-aggregating subquery == expand + filter
    out3 = kql(df, 'T | mv-apply tok = split(text, " ") on ('
                   'where tok == "x")')
    assert [(r.id, r.tok) for r in out3.collect()] == [("d2", "x")]


def test_dcountif_and_dcount_approx(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 2), ("b", 3)], "k string, v int"
    )
    row = kql(
        df,
        'T | summarize d = dcountif(v, k == "a"), ap = dcount_approx(v)',
    ).collect()[0]
    assert row.d == 2  # {1,2} where k=a
    assert row.ap == 3  # HLL exact at this tiny cardinality


def test_serialize_window_functions(spark):
    df = spark.createDataFrame(
        [("c1", 1, 10.0), ("c1", 2, 20.0), ("c1", 3, 30.0),
         ("c2", 1, 5.0), ("c2", 2, 7.0)],
        "conv string, idx int, v double",
    )
    out = kql(
        df,
        "T | sort by conv asc, idx asc | serialize by conv"
        " | extend rn = row_number(), pv = prev(v), nv = next(v, 1, -1.0),"
        " cum = row_cumsum(v)"
        " | project conv, idx, rn, pv, nv, cum",
    )
    rows = {(r.conv, r.idx): (r.rn, r.pv, r.nv, r.cum)
            for r in out.collect()}
    assert rows[("c1", 1)] == (1, None, 20.0, 10.0)
    assert rows[("c1", 3)] == (3, 20.0, -1.0, 60.0)
    assert rows[("c2", 2)] == (2, 5.0, -1.0, 12.0)
    # global serialized window (no `by`): sort alone serializes
    out2 = kql(
        df,
        "T | sort by conv asc, idx asc"
        " | extend rn = row_number(100), cum = row_cumsum(v)"
        " | project conv, idx, rn, cum",
    )
    rows2 = {(r.conv, r.idx): (r.rn, r.cum) for r in out2.collect()}
    assert rows2[("c1", 1)] == (100, 10.0)
    assert rows2[("c2", 2)] == (104, 72.0)


def test_serialize_preconditions_and_reset(spark):
    df = spark.createDataFrame([("a", 1.0)], "k string, v double")
    # window fn without serialization → error
    with pytest.raises(KqlError):
        kql(df, "T | extend rn = row_number()")
    # serialize without sort → error
    with pytest.raises(KqlError):
        kql(df, "T | serialize by k")
    # summarize de-serializes
    with pytest.raises(KqlError):
        kql(df, "T | sort by k asc | summarize n = count() by k"
                " | extend rn = row_number()")
    # rank variants
    df2 = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", 2)], "k string, v int")
    out = kql(df2, "T | sort by k asc, v asc | serialize by k"
                   " | extend r = row_rank_min(), d = row_rank_dense()")
    got = sorted((r.v, r.r, r.d) for r in out.collect())
    assert got == [(1, 1, 1), (1, 1, 1), (2, 3, 2)]


def test_evaluate_bag_unpack(spark):
    df = spark.createDataFrame(
        [("e1", '{"k": 3, "s": "x"}'), ("e2", '{"k": 7}'), ("e3", None)],
        "id string, props string",
    )
    out = kql(
        df,
        'T | evaluate bag_unpack(parse_json(props), "k:long", "s")'
        " | project id, k, s",
    )
    rows = {r.id: (r.k, r.s) for r in out.collect()}
    assert rows == {"e1": (3, "x"), "e2": (7, None), "e3": (None, None)}
    # discovery mode: keys found by a distinct-keys job, sorted
    out2 = kql(df, "T | project id, p = parse_json(props)"
                   " | evaluate bag_unpack(p)")
    assert out2.columns == ["id", "k", "s"]  # bare column source dropped
    # collision with an existing column -> error
    with pytest.raises(KqlError):
        kql(df, 'T | evaluate bag_unpack(parse_json(props), "id")')
    # non-dynamic source -> error
    with pytest.raises(KqlError):
        kql(df, "T | evaluate bag_unpack(props)")


def test_bag_unpack_key_discovery_bounded(spark):
    # implicit key inference over an adversarial bag (a distinct key
    # per row, > the 1000-key cap) must raise a clear error pointing
    # at the explicit-key form instead of collecting unbounded keys /
    # exploding the schema
    df = spark.range(1100).selectExpr(
        "cast(id as string) as id",
        "to_json(map(concat('k', id), id)) as props")
    with pytest.raises(KqlError, match="explicit key list"):
        kql(df, "T | evaluate bag_unpack(parse_json(props))")


def test_as_and_getschema(spark):
    df = spark.createDataFrame(
        [("a", 1), ("b", 2), ("b", 3)], "k string, v int")
    # `as` binds the mid-pipe relation for a later join
    out = kql(
        df,
        "T | summarize n = count() by k | as counts"
        " | join kind=inner (counts) on k"
        " | project k, n, n1",
    )
    assert {(r.k, r.n, r.n1) for r in out.collect()} == {
        ("a", 1, 1), ("b", 2, 2)}
    sch = kql(df, "T | getschema").collect()
    assert [(r.ColumnName, r.ColumnOrdinal, r.ColumnType) for r in sch] == [
        ("k", 0, "string"), ("v", 1, "int")]
    with pytest.raises(KqlError):
        kql(df, "T | as 9bad")


def test_partition_operator(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
         ("b", 4, 5.0), ("b", 5, 15.0)],
        "k string, id int, v double",
    )
    # per-key top-1 by v desc
    out = kql(df, "T | partition by k (top 1 by v desc, id asc)")
    assert {(r.k, r.id) for r in out.collect()} == {("a", 2), ("b", 5)}
    assert "__prn" not in out.columns
    # per-key summarize: key joins the group-by
    out2 = kql(df, "T | partition by k (summarize n = count())")
    assert {(r.k, r.n) for r in out2.collect()} == {("a", 3), ("b", 2)}
    out3 = kql(
        df,
        "T | partition by k (where v > 8.0"
        " | summarize s = sum(v) by parity = id % 2)",
    )
    assert {(r.k, r.parity, r.s) for r in out3.collect()} == {
        ("a", 1, 30.0), ("a", 0, 30.0), ("b", 1, 15.0)}
    # bare take inside partition is rejected (no deterministic order)
    with pytest.raises(KqlError):
        kql(df, "T | partition by k (take 1)")
    with pytest.raises(KqlError):
        kql(df, "T | partition by k (sort by v)")


def test_user_scalar_function(spark):
    df = spark.createDataFrame(
        [("a", 2.0), ("b", 5.0)], "k string, v double")
    out = kql(
        df,
        "let square_plus = (x: real, c: real) { x * x + c };"
        "T | extend y = square_plus(v, 1.0) | project k, y",
    )
    assert {(r.k, r.y) for r in out.collect()} == {("a", 5.0), ("b", 26.0)}
    # functions compose with builtins and other functions
    out2 = kql(
        df,
        "let inc = (x: real) { x + 1.0 };"
        "let inc2 = (x: real) { inc(inc(x)) };"
        "T | extend y = inc2(v) | project k, y",
    )
    assert {(r.k, r.y) for r in out2.collect()} == {("a", 4.0), ("b", 7.0)}
    # bare reference / wrong arity are errors
    with pytest.raises(KqlError):
        kql(df, "let f = (x: real) { x };T | extend y = f")
    with pytest.raises(KqlError):
        kql(df, "let f = (x: real) { x };T | extend y = f(v, v)")


def test_user_tabular_function_invoke(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 9.0), ("b", 4.0), ("b", 6.0)],
        "k string, v double",
    )
    out = kql(
        df,
        "let big = (T: (*), lo: real) {"
        " T | where v > lo | summarize n = count(), s = sum(v) by k };"
        "T | invoke big(3.0)",
    )
    assert {(r.k, r.n, r.s) for r in out.collect()} == {
        ("a", 1, 9.0), ("b", 2, 10.0)}
    # scalar call of a tabular fn / invoke of a scalar fn are errors
    with pytest.raises(KqlError):
        kql(df, "let g = (T: (*)) { T };T | extend y = g()")
    with pytest.raises(KqlError):
        kql(df, "let f = (x: real) { x };T | invoke f(1.0)")


def test_percentiles_array(spark):
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "k string, v double")
    out = kql(df, "T | summarize ps = percentiles_array(v, 25, 50, 95) by k")
    [r] = out.collect()
    assert r.ps == [25.75, 50.5, 95.05]


def test_percentiles_plural_and_range_and_consume(spark):
    df = spark.createDataFrame(
        [("a", float(i)) for i in range(1, 101)], "k string, v double")
    # plural percentiles: Kusto auto-names, tuple assign, single-name
    out = kql(df, "T | summarize percentiles(v, 25, 95),"
                  " (lo, hi) = percentiles(v, 10, 90),"
                  " p50 = percentiles(v, 50), n = count() by k")
    assert out.columns == [
        "k", "percentile_v_25", "percentile_v_95", "lo", "hi", "p50", "n"]
    [r] = out.collect()
    assert (r.percentile_v_25, r.percentile_v_95) == (25.75, 95.05)
    assert (r.lo, round(r.hi, 6), r.p50, r.n) == (10.9, 90.1, 50.5, 100)
    with pytest.raises(KqlError):  # tuple arity mismatch
        kql(df, "T | summarize (a, b) = percentiles(v, 50) by k")
    with pytest.raises(KqlError):  # single name, many percentiles
        kql(df, "T | summarize p = percentiles(v, 50, 95) by k")
    # scalar range(): inclusive, fractional/negative steps, null lanes
    one = spark.range(1)
    [r2] = kql(one, "T | project a = range(1, 9, 2), b = range(3, 1),"
                    " c = range(1.0, 2.0, 0.5), d = range(5, 1, -2),"
                    " e = range(1, 3, 0), f = range(int(null), 3)"
               ).collect()
    assert r2.a == [1.0, 3.0, 5.0, 7.0, 9.0]
    assert r2.b == []
    assert r2.c == [1.0, 1.5, 2.0]
    assert r2.d == [5.0, 3.0, 1.0]
    assert r2.e is None and r2.f is None
    # computed array index is 0-based (Kusto), null when out of range
    [r3] = kql(one, "T | extend arr = range(10, 30, 10), i = 2"
                    " | project x = arr[i - 2], y = arr[i],"
                    " z = arr[i + 5], w = arr[i - 9]").collect()
    assert (r3.x, r3.y, r3.z, r3.w) == (10.0, 30.0, None, None)
    # consume: evaluates to an empty result of the same shape
    got = kql(df, "T | where v > 10 | consume")
    assert got.columns == ["k", "v"] and got.count() == 0


def test_diffpatterns_text(spark):
    rows = [
        (True, "err timeout db"), (True, "err timeout net"),
        (True, "ok fast db"),
        (False, "ok fast db"), (False, "ok fast net"),
        (False, "ok slow db db"),  # duplicate token counts once
    ]
    df = spark.createDataFrame(rows, "is_a boolean, line string")
    out = kql(df, "T | evaluate diffpatterns_text(line, is_a, 3)")
    assert out.columns == [
        "Count1", "Count2", "Percent1", "Percent2", "Pattern"]
    got = [(r.Pattern, r.Count1, r.Count2, r.Percent1, r.Percent2)
           for r in out.collect()]
    # err/timeout: 2/3 vs 0/3 → |66.67|; ok: 1/3 vs 3/3 → |66.67|;
    # tie broken by Pattern asc: err, ok, timeout
    assert got == [
        ("err", 2, 0, 66.6667, 0.0),
        ("ok", 1, 3, 33.3333, 100.0),
        ("timeout", 2, 0, 66.6667, 0.0),
    ]
    with pytest.raises(KqlError):
        kql(df, "T | evaluate diffpatterns_text(line)")


def test_scan_operator(spark):
    rows = [
        # u1: click view view purchase -> one complete match (4 rows)
        (1, 1, "click"), (1, 2, "view"), (1, 3, "view"), (1, 4, "purchase"),
        # u1 again: click then purchase-without-view -> the purchase row
        # matches neither the current nor the next step and is skipped
        (1, 5, "click"), (1, 6, "purchase"),
        # u2: noise then click,view (incomplete -> still emitted)
        (2, 1, "other"), (2, 2, "click"), (2, 3, "view"),
        # u3: single purchase, never starts
        (3, 1, "purchase"),
    ]
    df = spark.createDataFrame(rows, "uid long, seq int, et string")
    out = kql(
        df,
        'T | sort by uid asc, seq asc | serialize by uid | scan with ('
        ' step s_click: et == "click";'
        ' step s_view: et == "view";'
        ' step s_buy: et == "purchase")',
    )
    got = sorted((r.uid, r.seq, r.match_id, r.step) for r in out.collect())
    assert got == [
        (1, 1, 1, "s_click"), (1, 2, 1, "s_view"), (1, 3, 1, "s_view"),
        (1, 4, 1, "s_buy"),
        (1, 5, 2, "s_click"),
        (2, 2, 1, "s_click"), (2, 3, 1, "s_view"),
    ]
    # custom match-id name; single-step scan: every hit its own match
    out2 = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid"
        ' | scan with_match_id=m with (step hit: et == "view")',
    )
    ms = sorted((r.uid, r.seq, r.m) for r in out2.collect())
    assert ms == [(1, 2, 1), (1, 3, 2), (2, 3, 1)]
    with pytest.raises(KqlError):
        kql(df, 'T | scan with (step a: et == "x")')  # no sort


def test_scan_declare_state_variables(spark):
    """scan declare(...) typed accumulators: initialized at match
    start, assigned in step bodies, readable in predicates, emitted as
    output columns (value AFTER the row's assignments)."""
    rows = [
        (1, 1, "start", 10), (1, 2, "add", 5), (1, 3, "add", 7),
        (1, 4, "stop", 1),
        (1, 5, "start", 2), (1, 6, "stop", 3),
        (2, 1, "add", 99), (2, 2, "start", 1), (2, 3, "add", 4),
    ]
    df = spark.createDataFrame(rows, "uid long, seq int, et string, v int")
    out = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid | scan"
        ' declare (total: long = 0, n: long = 0) with ('
        ' step opened: et == "start" => total = total + v, n = n + 1;'
        ' step closed: et == "stop" => total = total + v, n = n + 1)',
    )
    got = sorted(
        (r.uid, r.seq, r.match_id, r.step, r.total, r.n)
        for r in out.collect()
    )
    # 'add' rows match neither step (no extend pred) -> skipped;
    # totals accumulate per MATCH and reset at the next match start
    assert got == [
        (1, 1, 1, "opened", 10, 1), (1, 4, 1, "closed", 11, 2),
        (1, 5, 2, "opened", 2, 1), (1, 6, 2, "closed", 5, 2),
        (2, 2, 1, "opened", 1, 1),
    ]
    # declared variables usable in PREDICATES: stop only after the
    # accumulated total crosses a threshold
    out2 = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid | scan"
        " declare (acc: long = 0) with ("
        ' step going: et == "start" or et == "add" => acc = acc + v;'
        ' step done: acc >= 20 and et == "stop")',
    )
    got2 = sorted(
        (r.uid, r.seq, r.match_id, r.step, r.acc) for r in out2.collect()
    )
    # uid 1: acc reaches 22 by seq 3; seq 4 'stop' completes. The
    # second 'start' (seq 5) begins match 2 with acc reset; its 'stop'
    # (seq 6) has acc=2 < 20, matches neither step -> skipped.
    assert got2 == [
        (1, 1, 1, "going", 10), (1, 2, 1, "going", 15),
        (1, 3, 1, "going", 22), (1, 4, 1, "done", 22),
        (1, 5, 2, "going", 2),
        (2, 1, 1, "going", 99), (2, 2, 1, "going", 100),
        (2, 3, 1, "going", 104),
    ]
    # string accumulator + strcat/iff/strlen across an extending step
    out3 = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid | scan"
        ' declare (path: string = "") with ('
        ' step going: et != "stop" =>'
        ' path = strcat(path, iff(strlen(path) > 0, ">", ""), et);'
        ' step fin: et == "stop" =>'
        ' path = strcat(path, ">", et))',
    )
    paths = {(r.uid, r.seq): r.path for r in out3.collect()}
    assert paths[(1, 4)] == "start>add>add>stop"
    assert paths[(1, 6)] == "start>stop"         # match 2 reset
    assert paths[(2, 3)] == "add>start>add"       # incomplete, emitted
    # errors: assignment to an undeclared name; non-constant init;
    # unsupported function in a state-referencing predicate
    with pytest.raises(KqlError):
        kql(df, "T | sort by uid asc | serialize by uid | scan"
                " declare (x: long) with (step a: true => y = 1)")
    with pytest.raises(KqlError):
        kql(df, "T | sort by uid asc | serialize by uid | scan"
                " declare (x: long = v) with (step a: true)")
    with pytest.raises(KqlError):
        kql(df, "T | sort by uid asc | serialize by uid | scan"
                " declare (x: long = 0) with"
                " (step a: bin(x, 2) == 0 => x = x + 1)")
    with pytest.raises(KqlError):  # collision with an input column
        kql(df, "T | sort by uid asc | serialize by uid | scan"
                " declare (v: long = 0) with (step a: true)")
    # scan functions take the same argument-count check as builtins
    for call in ("tolong(v, v)", "strlen()"):
        with pytest.raises(KqlError, match=r"argument\(s\), got"):
            kql(df, "T | sort by uid asc | serialize by uid | scan"
                    " declare (n2: long = 0) with"
                    f" (step a: true => n2 = {call})")


def test_scan_declare_property_vs_reference(spark):
    """Property gate for declared state: the distributed execution must
    equal a single-process simulation of the documented semantics on a
    randomized input — accumulator programs included (the r4 extension
    of the plain-scan property test)."""
    import random

    rng = random.Random(20260818)
    rows = [
        (rng.randrange(5), i, rng.choice(["a", "b", "x"]),
         rng.randrange(1, 10))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "uid long, seq int, et string, v int")
    out = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid | scan"
        " declare (t: long = 0) with ("
        ' step s1: et == "a" => t = t + v;'
        ' step s2: t >= 12 and et == "b" => t = t + 100)',
    )
    got = sorted(
        (r.uid, r.seq, r.match_id, r.step, r.t) for r in out.collect()
    )

    exp = []
    by_uid: dict = {}
    for uid, seq, et, v in sorted(rows):
        by_uid.setdefault(uid, []).append((seq, et, v))
    for uid, evs in by_uid.items():
        s, mid, active, t = -1, 0, False, 0
        for seq, et, v in evs:
            if active and s + 1 < 2 and (t >= 12 and et == "b"):
                s = 1
            elif active and s == 0 and et == "a":
                pass
            elif active and s == 1 and (t >= 12 and et == "b"):
                pass
            elif not active and et == "a":
                mid += 1
                s, active, t = 0, True, 0
            else:
                continue
            t = t + v if s == 0 else t + 100
            exp.append((uid, seq, mid, "s1" if s == 0 else "s2", t))
            if s == 1:
                s, active = -1, False
    assert got == sorted(exp)
    assert len(got) > 50


def test_scan_property_vs_reference(spark):
    """Property gate for the scan plumbing: the distributed
    applyInPandas execution must equal a single-process reference
    simulation of the same documented semantics on randomized inputs —
    guards group boundaries, Arrow round-trip, and sort stability."""
    import random

    rng = random.Random(20260817)
    rows = [
        (rng.randrange(6), i, rng.choice(["a", "b", "c", "x"]))
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "uid long, seq int, et string")
    out = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid | scan with ("
        ' step s1: et == "a"; step s2: et == "b"; step s3: et == "c")',
    )
    got = sorted((r.uid, r.seq, r.match_id, r.step) for r in out.collect())

    exp = []
    by_uid: dict = {}
    for uid, seq, et in sorted(rows):
        by_uid.setdefault(uid, []).append((seq, et))
    preds = ["a", "b", "c"]
    for uid, evs in by_uid.items():
        s, mid, active = -1, 0, False
        for seq, et in evs:
            if active and s + 1 < 3 and et == preds[s + 1]:
                s += 1
            elif active and et == preds[s]:
                pass
            elif not active and et == preds[0]:
                mid += 1
                s, active = 0, True
            else:
                continue
            exp.append((uid, seq, mid, f"s{s + 1}"))
            if s == 2:
                s, active = -1, False
    assert got == sorted(exp)


def test_scalar_roundout_r3(spark):
    df = spark.createDataFrame(
        [("2026-03-04 15:30:45", "xxabcxx", '{"b": 1, "a": 2}', 7)],
        "s string, t string, j string, v int",
    ).withColumn("dt", F.col("s").cast("timestamp"))
    out = kql(
        df,
        'T | project f = format_datetime(dt, "yyyy/MM/dd HH:mm"),'
        ' ew = endofweek(dt),'
        ' ts = trim_start("x+", t), te = trim_end("x+", t),'
        ' tr = translate("abc", "xyz", t),'
        ' sa = array_sort_asc(dynamic([3, 1, 2])),'
        ' sd = array_sort_desc(dynamic([3, 1, 2])),'
        ' su = set_union(dynamic([1, 2]), dynamic([2, 3])),'
        ' sdf = set_difference(dynamic([1, 2]), dynamic([2, 3])),'
        ' si = set_intersect(dynamic([1, 2]), dynamic([2, 3])),'
        ' bk = bag_keys(parse_json(j)),'
        ' h = hash(t), hm = hash(t, 100)',
    )
    r = out.collect()[0]
    assert r.f == "2026/03/04 15:30"
    assert str(r.ew) == "2026-03-08 23:59:59.999999"  # week starts Mon
    assert (r.ts, r.te, r.tr) == ("abcxx", "xxabc", "xxxyzxx")
    assert (r.sa, r.sd) == ([1, 2, 3], [3, 2, 1])
    assert (sorted(r.su), r.sdf, r.si) == ([1, 2, 3], [1], [2])
    assert sorted(r.bk) == ["a", "b"]
    assert isinstance(r.h, int) and 0 <= r.hm < 100


def test_facet_and_render(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1)], "k string, v int")
    out = kql(df, "T | facet by k, v | render barchart")
    rows = {(r.facet_column, r.value): r.count_ for r in out.collect()}
    assert rows == {("k", "a"): 2, ("k", "b"): 1,
                    ("v", "1"): 2, ("v", "2"): 1}
    with pytest.raises(KqlError):
        kql(df, "T | facet by nope")
    with pytest.raises(KqlError):
        kql(df, "T | render")


def test_strategy_hints_applied(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 3)], "k string, v int")
    out = kql(
        df,
        "T | summarize hint.shufflekey = k hint.strategy = shuffle"
        " n = count() by k",
    )
    assert {(r.k, r.n) for r in out.collect()} == {("a", 2), ("b", 1)}
    # shufflekey pre-partitions on k: the plan carries a user-requested
    # hash repartition on k that the aggregate's Exchange reuses
    assert "hashpartitioning(k" in (
        out._jdf.queryExecution().optimizedPlan().toString()
        + out._jdf.queryExecution().executedPlan().toString()
    )
    out2 = kql(
        df,
        "T | as R | join kind=inner hint.strategy=broadcast (R) on k"
        " | summarize m = count() by k",
    )
    assert {(r.k, r.m) for r in out2.collect()} == {("a", 4), ("b", 1)}
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan2
    # shuffle strategy pins a ShuffledHashJoin even where broadcast
    # would win on size
    out3 = kql(
        df,
        "T | as R | join kind=inner hint.strategy=shuffle (R) on k"
        " | summarize m = count() by k",
    )
    assert {(r.k, r.m) for r in out3.collect()} == {("a", 4), ("b", 1)}
    assert "ShuffledHashJoin" in (
        out3._jdf.queryExecution().executedPlan().toString())
    # shufflekey on join pre-partitions BOTH sides on the key
    out4 = kql(
        df,
        "T | as R | join kind=inner hint.shufflekey=k (R) on k"
        " | summarize m = count() by k",
    )
    assert {(r.k, r.m) for r in out4.collect()} == {("a", 4), ("b", 1)}


def test_punycode_quartet(spark):
    df = spark.createDataFrame(
        [("München", "Mnchen-3ya", "académie-française.fr",
          "xn--acadmie-franaise-npb1a.fr")],
        "plain string, puny string, dom string, pdom string")
    out = kql(
        df,
        "T | extend e = punycode_from_string(plain),"
        " d = punycode_to_string(puny),"
        " de = punycode_domain_from_string(dom),"
        " dd = punycode_domain_to_string(pdom),"
        " ascii_e = punycode_from_string('plain'),"
        " bad = punycode_to_string('§ not punycode §')",
    ).collect()[0]
    assert out.e == "Mnchen-3ya"
    assert out.d == "München"
    assert out.de == "xn--acadmie-franaise-npb1a.fr"
    assert out.dd == "académie-française.fr"
    assert out.ascii_e == "plain-"   # all-basic: identity + delimiter
    assert out.bad == ""             # Kusto: empty string on failure


def test_parse_xml(spark):
    df = spark.createDataFrame(
        [(1, '<r a="1"><b>x</b><b>y</b><c>2</c>tail</r>'),
         (2, "not xml"), (3, None)], "id int, x string")
    rows = {r.id: r for r in kql(
        df,
        'T | extend p = parse_xml(x)'
        ' | extend battr = tostring(p.r["@a"]), c = tostring(p.r.c),'
        ' b0 = tostring(p.r.b[0]), b1 = tostring(p.r.b[1]),'
        ' mixed = tostring(p.r["#text"])',
    ).collect()}
    r1 = rows[1]
    assert (r1.battr, r1.c, r1.b0, r1.b1, r1.mixed) == (
        "1", "2", "x", "y", "tail")
    assert rows[2].battr is None and rows[3].battr is None


def test_assert_anyif_has_any_index(spark):
    df = spark.createDataFrame([("North America", 5)], "s string, v int")
    out = kql(
        df,
        "T | extend ok = assert(v > 0, 'positive'),"
        " i1 = has_any_index(s, pack_array('south', 'north')),"
        " i2 = has_any_index(s, pack_array('orth', 'merica')),"
        " i3 = has_any_index(s, dynamic([]))",
    ).collect()[0]
    assert out.ok is True and out.i1 == 1 and out.i2 == -1 and out.i3 == -1
    with pytest.raises(Exception):
        kql(df, "T | extend bad = assert(v < 0, 'neg')").collect()
    df2 = spark.createDataFrame([(i,) for i in range(1, 11)], "v int")
    agg = kql(
        df2,
        "T | summarize pr = percentrank_tdigest(tdigest(v), 3),"
        " a = anyif(v, v == 7)",
    ).collect()[0]
    assert agg.pr == 30.0 and agg.a == 7


def test_ipv6_is_in_range(spark):
    df = spark.createDataFrame(
        [("a1::1", "a1::/112", True),        # same /112 prefix
         ("a1::1", "a1:b::/112", False),     # differs inside the prefix
         ("1::5", "1::/16", True),           # first group matches /16
         ("2::5", "1::/16", False),
         ("::ffff:10.0.0.7", "::ffff:a00:0/120", True),  # v4-mapped
         ("a1::1", None, None)],
        "ip string, rng string, want boolean")
    out = {(r.ip, r.rng): r.got for r in kql(
        df, "T | extend got = ipv6_is_in_range(ip, rng)").collect()}
    for r in df.collect():
        assert out[(r.ip, r.rng)] == r.want, (r.ip, r.rng)
    # any_range: true if ANY range matches; here 2nd range catches it
    out2 = kql(
        df,
        "T | where ip == 'a1::1' and isnotempty(rng)"
        " | extend got = ipv6_is_in_any_range(ip, 'ff::/16', 'a1::/16')",
    ).collect()
    assert all(r.got for r in out2) and len(out2) == 2


def test_parse_where_filters_unmatched(spark):
    df = spark.createDataFrame(
        [(1, "dur=123 ms code=OK"), (2, "dur=9 ms code=ERR"), (3, "garbage")],
        "id int, line string",
    )
    out = {
        r.id: r
        for r in kql(
            df, 'T | parse-where line with "dur=" d:long " ms code=" code'
        ).collect()
    }
    # the unmatched row is DROPPED (parse keeps it with NULL/'' fields)
    assert sorted(out) == [1, 2]
    assert out[1].d == 123 and out[2].code == "ERR"


def test_parse_kv_extraction(spark):
    df = spark.createDataFrame(
        [(1, "a=1, b=x, c=2.5"), (2, "b = y ,a=2"), (3, "nope")],
        "id int, kv string",
    )
    out = {
        r.id: r
        for r in kql(
            df,
            "T | parse-kv kv as (a: long, b, c: double)"
            ' with (pair_delimiter=",", kv_delimiter="=")',
        ).collect()
    }
    assert out[1].a == 1 and out[1].b == "x" and out[1].c == 2.5
    # whitespace around delimiters tolerated; missing key -> ''/NULL
    assert out[2].a == 2 and out[2].b == "y" and out[2].c is None
    assert out[3].a is None and out[3].b == "" and out[3].c is None
    with pytest.raises(KqlError):
        kql(df, 'T | parse-kv kv as (a) with (pair_delimiter=", ")')
    with pytest.raises(KqlError):
        kql(df, "T | parse-kv kv as ()")


def test_fork_legs(spark):
    from otel_arrow_spark.operators.kql_parser import kql_fork

    df = spark.createDataFrame(
        [("err", 1), ("ok", 2), ("err", 3), ("ok", 40)],
        "kind string, v int",
    )
    legs = kql_fork(
        df,
        "T | where v > 0 | fork"
        ' bad=(where kind == "err" | summarize n = count())'
        " (where v >= 2 | project v)",
    )
    assert sorted(legs) == ["bad", "leg2"]
    assert legs["bad"].collect()[0].n == 2
    assert {r.v for r in legs["leg2"].collect()} == {2, 3, 40}
    # fork through plain kql() is an error with a pointer to kql_fork
    with pytest.raises(KqlError):
        kql(df, "T | fork (where v > 1)")
    # fork must be terminal
    with pytest.raises(KqlError):
        kql_fork(df, "T | fork (where v > 1) | count")
    with pytest.raises(KqlError):
        kql_fork(df, "T | where v > 1")


def test_aggregate_roundout_r3b(spark):
    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 3, 20.0), ("b", 7, 5.0)],
        "k string, m long, v double",
    )
    out = {
        r.k: r
        for r in kql(
            df,
            "T | summarize sp = stdevp(v), vp = variancep(v),"
            " ba = binary_all_and(m), bo = binary_all_or(m),"
            " bx = binary_all_xor(m), anyk = take_any(strcat(k, k)),"
            " ifany = take_anyif(m, m > 2), ifnone = take_anyif(m, m > 100)"
            " by k",
        ).collect()
    }
    assert out["a"].vp == 25.0 and out["a"].sp == 5.0
    assert out["a"].ba == 1 and out["a"].bo == 3 and out["a"].bx == 2
    assert out["a"].anyk == "aa" and out["a"].ifany == 3
    assert out["b"].vp == 0.0 and out["b"].bx == 7
    assert out["b"].ifany == 7
    # take_anyif with no qualifying row -> NULL
    assert out["a"].ifnone is None and out["b"].ifnone is None


def test_series_functions(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | extend s = pack_array(1, 3, 5, 7), t = pack_array(2, 2, 2, 2)"
        " | project ssum = series_sum(s), savg = series_avg(s),"
        " smin = series_min(s), smax = series_max(s),"
        " sadd = series_add(s, t), ssub = series_subtract(s, t),"
        " smul = series_multiply(s, t), sdiv = series_divide(s, t),"
        " sabs = series_abs(series_subtract(t, s)),"
        " line = series_fit_line(s),"
        " slope1 = series_fit_line_slope(pack_array(9))",
    ).collect()[0]
    assert r.ssum == 16.0 and r.savg == 4.0
    assert r.smin == 1 and r.smax == 7
    assert r.sadd == [3, 5, 7, 9] and r.ssub == [-1, 1, 3, 5]
    assert r.smul == [2, 6, 10, 14] and r.sdiv == [0.5, 1.5, 2.5, 3.5]
    assert r.sabs == [1, 1, 3, 5]
    assert r.line == [2.0, 1.0]
    # single-point series: slope undefined -> NULL, not a div-by-zero
    assert r.slope1 is None


def test_bin_at_anchored_grid(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:35:00",), ("2024-01-01 01:05:00",),
         ("2024-01-01 01:40:00",)],
        "s string",
    ).withColumn("ts", F.col("s").cast("timestamp"))
    got = [
        str(r.b)
        for r in kql(
            df,
            'T | extend b = bin_at(ts, 1h, datetime("2024-01-01 00:30:00"))'
            " | project b | order by b asc",
        ).collect()
    ]
    # grid anchored at :30, not midnight
    assert got == ["2024-01-01 00:30:00", "2024-01-01 00:30:00",
                   "2024-01-01 01:30:00"]
    got2 = kql(df, "T | extend n = bin_at(7, 5, 2) | take 1").collect()[0].n
    assert got2 == 7  # 2 + floor((7-2)/5)*5
    with pytest.raises(KqlError):
        kql(df, "T | extend b = bin_at(ts, 1h)")


def test_has_term_semantics(spark):
    df = spark.createDataFrame(
        [(1, "North America"), (2, "Northern lights"), (3, "due north!"),
         (4, "nor th"), (5, "price: $42,NORTH")],
        "id int, s string",
    )

    def ids(q):
        return {r.id for r in kql(df, q).collect()}

    # whole-term, case-insensitive
    assert ids('T | where s has "north"') == {1, 3, 5}
    # substring form matches the partial word too
    assert ids('T | where s contains "north"') == {1, 2, 3, 5}
    assert ids('T | where s !has "north"') == {2, 4}
    # case-sensitive term match
    assert ids('T | where s has_cs "North"') == {1}
    # term-prefix / term-suffix
    assert ids('T | where s hasprefix "nor"') == {1, 2, 3, 4, 5}
    # a term ENDING in the needle matches; a prefix-only hit does not
    assert ids('T | where s hassuffix "ica"') == {1}
    assert ids('T | where s hassuffix "amer"') == set()
    # column-valued needle is runtime-escaped (the $ must not be regex)
    df2 = spark.createDataFrame(
        [("has $42 fee", "$42"), ("has 420 fee", "$42")], "s string, n string"
    )
    got = {r.s for r in kql(df2, "T | where s has n").collect()}
    assert got == {"has $42 fee"}


def test_toscalar_let_binding(spark):
    df = spark.createDataFrame(
        [("a", 10.0), ("b", 99.0), ("c", 40.0)], "k string, v double")
    out = kql(
        df,
        "let hi = toscalar(T | summarize max(v));"
        "T | where v >= hi * 0.4 | project k",
        tables={"T": df},
    )
    assert {r.k for r in out.collect()} == {"b", "c"}
    # empty subquery result binds NULL (filters everything out)
    out2 = kql(
        df,
        "let x = toscalar(T | where v > 1000 | summarize max(v));"
        "T | where v > x | count",
        tables={"T": df},
    )
    assert out2.collect()[0]["count_"] == 0


def test_union_withsource(spark):
    a = spark.createDataFrame([(1, "x")], "id int, s string")
    b = spark.createDataFrame([(2, 5.0)], "id int, v double")
    out = kql(a, "T | union withsource=src B", tables={"B": b}).collect()
    rows = {(r.src, r.id) for r in out}
    assert rows == {("T", 1), ("B", 2)}
    # outer union null-fills the non-shared columns
    byid = {r.id: r for r in out}
    assert byid[1].s == "x" and byid[1].v is None
    assert byid[2].v == 5.0 and byid[2].s is None
    # subquery sources get generated labels
    out2 = kql(a, "T | union withsource=src (B | project id)",
               tables={"B": b}).collect()
    assert {r.src for r in out2} == {"T", "union1"}


def test_project_reorder(spark):
    df = spark.createDataFrame([(1, 2, 3, 4)], "b int, d int, a int, c int")
    assert kql(df, "T | project-reorder a, c").columns == \
        ["a", "c", "b", "d"]
    # wildcards, and unlisted columns keep relative order
    assert kql(df, "T | project-reorder c*, a").columns == \
        ["c", "a", "b", "d"]


def test_materialize_let_binding(spark):
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 9.0)], "k string, v double")
    out = kql(
        df,
        "let M = materialize(T | summarize s = sum(v) by k);"
        "M | join kind=inner (M) on k | project k, s, s1",
        tables={"T": df},
    )
    rows = {(r.k, r.s, r.s1) for r in out.collect()}
    assert rows == {("a", 3.0, 3.0), ("b", 9.0, 9.0)}
    # the bound relation is actually persisted (single-evaluation
    # contract) — clean up after the assertion
    from otel_arrow_spark.operators.kql_parser import _prepare

    _, _, _, tabs = _prepare(
        df, "let M = materialize(T | where v > 1); M | count",
        {"T": df},
    )
    assert tabs["M"].storageLevel.useMemory
    tabs["M"].unpersist()
    spark.catalog.clearCache()


def test_evaluate_basket(spark):
    df = spark.createDataFrame(
        [("a", "x")] * 6 + [("a", "y")] * 3 + [("b", "y")] * 1,
        "k string, s string",
    )
    rows = {
        (r.k, r.s, r.support_count)
        for r in kql(df, "T | evaluate basket(0.3)").collect()
    }
    # total 10, threshold 3: singles a(9), x(6), y(4); pair (a,x)=6,
    # (a,y)=3; b(1) and (b,y)(1) fall below support
    assert rows == {
        ("a", None, 9), (None, "x", 6), (None, "y", 4),
        ("a", "x", 6), ("a", "y", 3),
    }
    with pytest.raises(KqlError):
        kql(df, "T | evaluate nosuchplugin()")


def test_ipv4_predicates(spark):
    df = spark.createDataFrame(
        [(1, "10.1.2.3"), (2, "172.20.0.9"), (3, "172.32.0.1"),
         (4, "192.168.44.1"), (5, "8.8.8.8"), (6, "garbage")],
        "id int, ip string",
    )
    got = {r.id: r for r in kql(
        df,
        "T | extend priv = ipv4_is_private(ip),"
        ' in24 = ipv4_is_in_range(ip, "10.1.2.0/24"),'
        ' in8 = ipv4_is_match(ip, "172.0.0.0/8")',
    ).collect()}
    assert [got[i].priv for i in range(1, 6)] == [
        True, True, False, True, False]
    assert got[1].in24 is True and got[2].in24 is False
    assert got[2].in8 is True and got[3].in8 is True and got[5].in8 is False
    # malformed input -> NULL, never an ANSI error
    assert got[6].priv is None and got[6].in24 is None


def test_parse_url_bag(spark):
    df = spark.createDataFrame(
        [("https://api.example.com:8443/v1/items?q=2#frag",)], "u string")
    r = kql(
        df,
        "T | extend b = parse_url(u)"
        " | project scheme = tostring(b.Scheme),"
        " host = tostring(b.Host), port = toint(b.Port),"
        " path = tostring(b.Path), q = tostring(b.Query),"
        " frag = tostring(b.Fragment)",
    ).collect()[0]
    assert r.scheme == "https" and r.host == "api.example.com"
    assert r.port == 8443 and r.path == "/v1/items"
    assert r.q == "q=2" and r.frag == "frag"


def test_bag_pack_and_array_helpers(spark):
    df = spark.createDataFrame([(1, "x", 2.5)], "id int, s string, v double")
    r = kql(
        df,
        'T | extend b = bag_pack("id", id, "tag", s, "val", v)'
        " | project keys = bag_keys(b), tag = tostring(b.tag),"
        " val = todouble(b.val),"
        " idx = array_index_of(pack_array(5, 7, 9), 7),"
        " missing = array_index_of(pack_array(5), 9),"
        " asum = array_sum(pack_array(1, 2, 3)),"
        " aavg = array_avg(pack_array(1.0, 2.0, 6.0))",
    ).collect()[0]
    assert sorted(r.keys) == ["id", "tag", "val"]
    assert r.tag == "x" and r.val == 2.5
    assert r.idx == 1 and r.missing == -1
    assert r.asum == 6.0 and r.aavg == 3.0
    with pytest.raises(KqlError):
        kql(df, 'T | extend b = bag_pack("k")')


def test_math_roundout_r3c(spark):
    df = spark.createDataFrame([(1.0,)], "x double")
    r = kql(
        df,
        "T | project a = exp2(3.0), b = exp10(2.0), c = round(pi(), 4),"
        " d = round(degrees(pi()), 1), e = round(cos(0.0), 1),"
        ' f = atan2(0.0, 1.0), g = isnan(todouble("NaN")),'
        ' h = isfinite(todouble("Infinity")),'
        ' i = isinf(todouble("-Infinity")),'
        " j = around(x, 1.1, 0.2), k = around(x, 2.0, 0.2)",
    ).collect()[0]
    assert r.a == 8.0 and r.b == 100.0 and r.c == 3.1416
    assert r.d == 180.0 and r.e == 1.0 and r.f == 0.0
    assert r.g is True and r.h is False and r.i is True
    assert r.j is True and r.k is False


def test_series_outliers_mad(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df, "T | project o = series_outliers(pack_array(1, 2, 3, 4, 100))"
    ).collect()[0]
    got = [round(x, 3) for x in r.o]
    # median 3, MAD 1 -> scores (x-3)/1.4826
    assert got == [-1.349, -0.674, 0.0, 0.674, 65.426]
    # degenerate MAD=0 (majority constant): all zero, no div-by-zero
    r2 = kql(
        df, "T | project o = series_outliers(pack_array(1, 1, 1, 1, 9))"
    ).collect()[0]
    assert r2.o == [0.0] * 5
    # empty series: NULL, not INVALID_INDEX_OF_ZERO from the median's
    # computed element index (regression: r3 crashed the whole query)
    r3 = kql(
        df, "T | project o = series_outliers(dynamic([]))"
    ).collect()[0]
    assert r3.o is None or list(r3.o) == []


def test_series_pearson_correlation(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        " perfect = series_pearson_correlation("
        "pack_array(1, 2, 3), pack_array(2, 4, 6)),"
        " inverse = series_pearson_correlation("
        "pack_array(1, 2, 3), pack_array(3, 2, 1)),"
        " zero = round(series_pearson_correlation("
        "pack_array(1, 2, 1, 2), pack_array(5, 5, 6, 6)), 6),"
        " flat = series_pearson_correlation("
        "pack_array(7, 7, 7), pack_array(1, 2, 3))",
    ).collect()[0]
    assert abs(r.perfect - 1.0) < 1e-12
    assert abs(r.inverse + 1.0) < 1e-12
    assert r.zero == 0.0
    assert r.flat is None  # zero variance -> undefined, not div-by-zero


def test_evaluate_diffpatterns(spark):
    df = spark.createDataFrame(
        [("x", "err")] * 6 + [("x", "ok")] * 2 + [("y", "ok")] * 2,
        "k string, status string",
    )
    rows = {
        (r.pattern_column, r.value): r
        for r in kql(
            df, 'T | evaluate diffpatterns(status == "err")'
        ).collect()
    }
    # cohort A (err) = 6 rows all k=x; cohort B (ok) = 4 rows, half k=y
    a = rows[("k", "x")]
    assert (a.count_a, a.count_b) == (6, 2)
    assert a.pct_a == 1.0 and a.pct_b == 0.5 and a.diff == 0.5
    b = rows[("k", "y")]
    assert (b.count_a, b.count_b) == (0, 2) and b.diff == -0.5
    # the split column itself is reported too (status=err all-A)
    assert rows[("status", "err")].pct_a == 1.0


def test_evaluate_diffpatterns_subsets(spark):
    # max_size >= 3 takes the single-shuffle bitmask-explode path:
    # every column subset up to the cap, '&'-joined names/values in
    # canonical column order, NULL values ~null~-marked in multi-column
    # patterns but raw in single-column ones (leg-path parity)
    df = spark.createDataFrame(
        [("x", "p", None, "err")] * 4 + [("x", "q", "m", "ok")] * 2
        + [("y", "p", "m", "ok")] * 2,
        "k string, s string, t string, status string",
    )
    out = kql(df, 'T | evaluate diffpatterns(status == "err", 3)')
    rows = {
        (r.pattern_column, r.value): (r.count_a, r.count_b)
        for r in out.collect()
    }
    assert rows[("k", "x")] == (4, 2)
    assert rows[("k&s", "x&p")] == (4, 0)
    assert rows[("k&s&t", "x&p&~null~")] == (4, 0)   # null marked
    assert rows[("k&s&t", "y&p&m")] == (0, 2)
    assert rows[("t", None)] == (4, 0)               # single: raw null
    assert ("k&s&t&status", "x&p&~null~&err") not in rows  # size cap
    # pct/diff arithmetic matches the leg path
    r4 = {(r.pattern_column, r.value): r for r in out.collect()}[
        ("k&s", "x&p")]
    assert r4.pct_a == 1.0 and r4.pct_b == 0.0 and r4.diff == 1.0
    with pytest.raises(KqlError, match="8 input columns"):
        wide = spark.createDataFrame(
            [tuple("v" for _ in range(9))],
            ", ".join(f"c{i} string" for i in range(9)))
        kql(wide, 'T | evaluate diffpatterns(c0 == "v", 3)')


def test_series_fill_const(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | extend s = pack_array(1, null, 3)"
        " | project f = series_fill_const(s, 0)",
    ).collect()[0]
    assert r.f == [1, 0, 3]


def test_evaluate_autocluster(spark):
    """autocluster: exhaustive 1- and 2-column coverage patterns above
    the threshold, Kusto output shape (segment_id by coverage desc,
    count_, percent, NULL wildcards)."""
    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("a", "y"), ("b", "x")] * 5,
        "k string, m string",
    )
    out = kql(df, "T | evaluate autocluster(0.3)")
    rows = [(r.segment_id, r.count_, r.percent, r.k, r.m)
            for r in out.collect()]
    # 'a' covers 75%, 'x' covers 75%, ('a','x') covers 50%;
    # 'b' (25%) and 'y' (25%) fall below the 30% threshold
    assert sorted(rows) == [
        (0, 15, 75.0, "a", None),
        (1, 15, 75.0, None, "x"),
        (2, 10, 50.0, "a", "x"),
    ]
    # default threshold keeps everything at 5%
    out2 = kql(df, "T | evaluate autocluster()")
    assert out2.count() == 2 + 2 + 3  # k vals + m vals + 3 pairs


def test_scan_output_modes(spark):
    """Per-step output=all|last|none: 'last' emits only the final row
    matched at the step (flushed on advance/completion/group end),
    'none' suppresses the step entirely."""
    rows = [
        (1, 1, "a"), (1, 2, "a"), (1, 3, "a"), (1, 4, "b"),
        (1, 5, "a"), (1, 6, "a"),   # second match, never completes
        (2, 1, "b"), (2, 2, "a"),   # 'b' before any match; then opens
    ]
    df = spark.createDataFrame(rows, "uid long, seq int, et string")
    out = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid | scan with ("
        ' step sa output=last: et == "a";'
        ' step sb: et == "b")',
    )
    got = sorted((r.uid, r.seq, r.match_id, r.step) for r in out.collect())
    # uid1 match1: 'a' rows 1-3 -> only seq 3 (last) + seq 4 'b';
    # uid1 match2: 'a' rows 5-6 incomplete -> last (seq 6) flushed at
    # group end; uid2: match opens at seq 2, incomplete -> seq 2
    assert got == [
        (1, 3, 1, "sa"), (1, 4, 1, "sb"), (1, 6, 2, "sa"),
        (2, 2, 1, "sa"),
    ]
    out2 = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid | scan with ("
        ' step sa output=none: et == "a";'
        ' step sb: et == "b")',
    )
    got2 = sorted((r.uid, r.seq, r.step) for r in out2.collect())
    assert got2 == [(1, 4, "sb")]
    # output=last snapshots declared state at the buffered row
    out3 = kql(
        df,
        "T | sort by uid asc, seq asc | serialize by uid | scan"
        " declare (n: long = 0) with ("
        ' step sa output=last: et == "a" => n = n + 1;'
        ' step sb: et == "b" => n = n + 100)',
    )
    got3 = sorted((r.uid, r.seq, r.step, r.n) for r in out3.collect())
    assert got3 == [
        (1, 3, "sa", 3), (1, 4, "sb", 103), (1, 6, "sa", 2),
        (2, 2, "sa", 1),
    ]


def test_series_moving_avg_and_decompose_anomalies(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project ma = series_moving_avg(pack_array(1, 2, 3, 4, 5), 1),"
        " ma2 = series_moving_avg(pack_array(10, 10, 10, 10), 2),"
        " empty = series_moving_avg(dynamic([]))",
    ).collect()[0]
    # centered ±1, clamped edges: [avg(1,2), avg(1,2,3), ..., avg(4,5)]
    assert r.ma == [1.5, 2.0, 3.0, 4.0, 4.5]
    assert r.ma2 == [10.0] * 4
    assert list(r.empty) == []
    # a flat series with one spike: the spike flags +1, everything else 0
    r2 = kql(
        df,
        "T | project f = series_decompose_anomalies("
        "pack_array(5, 5, 5, 5, 50, 5, 5, 5, 5))",
    ).collect()[0]
    assert r2.f[4] == 1 and sum(1 for x in r2.f if x == 1) == 1
    assert all(x in (-1, 0, 1) for x in r2.f)
    # negative spike flags -1
    r3 = kql(
        df,
        "T | project f = series_decompose_anomalies("
        "pack_array(5, 5, 5, 5, -40, 5, 5, 5, 5), 1.5)",
    ).collect()[0]
    assert r3.f[4] == -1


def test_series_fir(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        # centered [1,2,1], normalized: interior (x0+2*x1+x2)/4,
        # edges renormalize over the in-bounds coefficients
        " c = series_fir(pack_array(1, 2, 3, 4), dynamic([1.0, 2.0, 1.0]),"
        " true, true),"
        # causal uniform normalized == trailing average of available
        " t = series_fir(pack_array(4, 8, 12), dynamic([1.0, 1.0]),"
        " true, false),"
        # non-normalized causal [1,1]: y0=x0, yi=x[i-1]+x[i]
        " raw = series_fir(pack_array(1, 2, 3), dynamic([1.0, 1.0]),"
        " false, false),"
        " empty = series_fir(dynamic([]), dynamic([1.0]), true, false)",
    ).collect()[0]
    assert r.c == [(2 * 1 + 2) / 3, (1 + 2 * 2 + 3) / 4,
                   (2 + 2 * 3 + 4) / 4, (3 + 2 * 4) / 3]
    assert r.t == [4.0, 6.0, 10.0]
    assert r.raw == [1.0, 3.0, 5.0]
    assert list(r.empty) == []


def test_series_iir(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        # EWMA y = 0.25*x + 0.75*y_prev (a = [1, -0.75])
        " e = series_iir(pack_array(4, 4, 4), dynamic([0.25]),"
        " dynamic([1.0, -0.75])),"
        # pure FIR through the b path: y = (x + x_prev)/2
        " m = series_iir(pack_array(2, 4, 6), dynamic([0.5, 0.5]),"
        " dynamic([1.0])),"
        # a0 scaling: a = [2] halves everything
        " h = series_iir(pack_array(2, 4), dynamic([1.0]),"
        " dynamic([2.0])),"
        " empty = series_iir(dynamic([]), dynamic([1.0]),"
        " dynamic([1.0]))",
    ).collect()[0]
    assert r.e == [1.0, 1.75, 2.3125]
    assert r.m == [1.0, 3.0, 5.0]
    assert r.h == [1.0, 2.0]
    assert list(r.empty) == []


def test_series_fit_2lines(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        # flat then rising: exact fit with split at the knee -> rss ~ 0.
        # Note (3,0) lies ON the right line y=10x-30, so split 3 and 4
        # both have rss 0; the documented tie-break picks the smaller.
        " f = series_fit_2lines(pack_array(0, 0, 0, 0, 10, 20, 30, 40)),"
        # too short for two 2-point segments -> NULL
        " short = series_fit_2lines(pack_array(1, 2, 3))",
    ).collect()[0]
    split, sl_l, ic_l, sl_r, ic_r, rss = r.f
    assert split == 3.0          # left = [0,0,0], right covers x = 3..7
    assert abs(sl_l) < 1e-9 and abs(ic_l) < 1e-9
    assert abs(sl_r - 10.0) < 1e-9    # y = 10*x - 30 on x = 3..7
    assert abs(ic_r + 30.0) < 1e-9
    assert abs(rss) < 1e-9
    assert r.short is None


def test_series_stats_roundout(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        " v = series_stats_variance(pack_array(2, 4, 4, 4, 5, 5, 7, 9)),"
        " sd = series_stats_stdev(pack_array(2, 4, 4, 4, 5, 5, 7, 9)),"
        " one = series_stats_variance(pack_array(3)),"
        " mni = series_stats_min_idx(pack_array(5, 1, 9, 1)),"
        " mxi = series_stats_max_idx(pack_array(5, 1, 9, 9))",
    ).collect()[0]
    assert abs(r.v - 32.0 / 7) < 1e-12      # sample variance
    assert abs(r.sd - (32.0 / 7) ** 0.5) < 1e-12
    assert r.one is None
    assert r.mni == 1 and r.mxi == 2        # first occurrence, 0-based


def test_series_fills(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | extend s = pack_array(null, 1, null, null, 4, null)"
        " | project ff = series_fill_forward(s),"
        " fb = series_fill_backward(s),"
        " fl = series_fill_linear(s),"
        " f1 = series_fill_linear(pack_array(null, 2, null)),"
        " f2 = series_fill_linear(pack_array(1, null, null, 7, null, 9))",
    ).collect()[0]
    assert r.ff == [None, 1.0, 1.0, 1.0, 4.0, 4.0]
    assert r.fb == [1.0, 1.0, 4.0, 4.0, 4.0, None]
    # interior run interpolates between anchors, edges take nearest
    assert r.fl == [1.0, 1.0, 2.0, 3.0, 4.0, 4.0]
    assert r.f1 == [2.0, 2.0, 2.0]
    assert r.f2 == [1.0, 3.0, 5.0, 7.0, 8.0, 9.0]


def test_series_elementwise_and_vector(spark):
    import math

    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        " e = series_exp(pack_array(0, 1)),"
        " lg = series_log(pack_array(1.0, 0.0)),"
        " sg = series_sign(pack_array(-3, 0, 2)),"
        " flr = series_floor(pack_array(1.7, -1.2)),"
        " cl = series_ceiling(pack_array(1.2, -1.7)),"
        " pw = series_pow(pack_array(2, 3), pack_array(3, 2)),"
        " gt = series_greater(pack_array(1, 5), pack_array(2, 2)),"
        " eq = series_equals(pack_array(1, 2), pack_array(1, 3)),"
        " dp = series_dot_product(pack_array(1, 2, 3), pack_array(4, 5, 6)),"
        " mg = series_magnitude(pack_array(3, 4)),"
        " cs = series_cosine_similarity(pack_array(1, 0), pack_array(1, 0)),"
        " cz = series_cosine_similarity(pack_array(0, 0), pack_array(1, 0))",
    ).collect()[0]
    assert r.e[0] == 1.0 and abs(r.e[1] - math.e) < 1e-12
    assert r.lg == [0.0, None]  # log of non-positive -> NULL, no ANSI raise
    assert r.sg == [-1.0, 0.0, 1.0]
    assert r.flr == [1.0, -2.0]
    assert r.cl == [2.0, -1.0]
    assert r.pw == [8.0, 9.0]
    assert r.gt == [False, True]
    assert r.eq == [True, False]
    assert r.dp == 32.0
    assert r.mg == 5.0
    assert abs(r.cs - 1.0) < 1e-12
    assert r.cz is None  # zero-magnitude side -> NULL, never div-by-zero


def test_series_seasonal(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        # period 3 over two full cycles: phase medians are pair means
        " s = series_seasonal(pack_array(1, 10, 100, 3, 20, 300), 3),"
        # ragged tail: phase 0 sees {5, 7, 9}, phases 1/2 see pairs
        " t = series_seasonal(pack_array(5, 1, 2, 7, 3, 4, 9), 3),"
        " z = series_seasonal(pack_array(1, 2), 0),"
        " e = series_seasonal(dynamic([]), 3)",
    ).collect()[0]
    assert r.s == [2.0, 15.0, 200.0, 2.0, 15.0, 200.0]
    assert r.t == [7.0, 2.0, 3.0, 7.0, 2.0, 3.0, 7.0]
    assert r.z is None          # non-positive period -> NULL
    assert list(r.e) == []


def test_reduce_by(spark):
    df = spark.createDataFrame(
        [
            ("GET /api/user/1234 took 56ms",),
            ("GET /api/user/99 took 7ms",),
            ("POST /login from deadbeef01",),
            ("POST /login from cafe0042",),
            ("heartbeat ok",),
        ],
        "msg string",
    )
    rows = {r.Pattern: r for r in kql(df, "T | reduce by msg").collect()}
    g = rows["GET /api/user/* took *ms"]
    assert g.Count == 2
    assert g.Representative == "GET /api/user/1234 took 56ms"  # min()
    assert rows["POST /login from *"].Count == 2
    assert rows["heartbeat ok"].Count == 1


def test_scalar_suite4_functions(spark):
    df = spark.createDataFrame([("2024-03-05 10:20:30",)], "ts string")
    r = kql(
        df,
        "T | extend d = todatetime(ts) | project"
        " eod = endofday(d), eom = endofmonth(d),"
        " moy = monthofyear(d), woy = week_of_year(d),"
        " mk = make_datetime(2024, 3, 5, 6, 7, 8.0),"
        " mk3 = make_datetime(2024, 3, 5),"
        " ux = unixtime_seconds_todatetime(86400),"
        ' b64 = base64_encode_tostring("ab"),'
        ' bd = base64_decode_tostring("YWI="),'
        ' sc1 = strcmp("a", "b"), sc2 = strcmp("b", "a"),'
        ' sc0 = strcmp("a", "a"),'
        ' qp = datetime_part("quarter", d),'
        ' dp = datetime_part("dayofyear", d)',
    ).collect()[0]
    assert str(r.eod) == "2024-03-05 23:59:59.999999"
    assert str(r.eom) == "2024-03-31 23:59:59.999999"
    assert r.moy == 3 and r.woy == 10
    assert str(r.mk) == "2024-03-05 06:07:08"
    assert str(r.mk3) == "2024-03-05 00:00:00"
    assert str(r.ux).startswith("1970-01-02 00:00:00")
    assert r.b64 == "YWI=" and r.bd == "ab"
    assert (r.sc1, r.sc2, r.sc0) == (-1, 1, 0)
    assert r.qp == 1 and r.dp == 65


def test_evaluate_narrow(spark):
    df = spark.createDataFrame([(2, "b"), (1, None)], "k int, s string")
    rows = kql(df, "T | sort by k asc | evaluate narrow()").collect()
    assert [tuple(r) for r in rows] == [
        (0, "k", "1"), (0, "s", None), (1, "k", "2"), (1, "s", "b"),
    ]
    # Row binds to the serialized order, which narrow requires
    with pytest.raises(KqlError):
        kql(df, "T | evaluate narrow()")


def test_evaluate_rows_near(spark):
    df = spark.createDataFrame(
        [(i, "err" if i in (3, 9) else "ok") for i in range(12)],
        "i int, s string")
    got = kql(
        df,
        "T | sort by i asc | evaluate rows_near(s == 'err', 1)"
        " | order by i asc | project i")
    assert [r.i for r in got.collect()] == [2, 3, 4, 8, 9, 10]
    # asymmetric window: 0 before, 2 after the condition row
    got2 = kql(
        df,
        "T | sort by i asc | evaluate rows_near(s == 'err', 0, 2)"
        " | order by i asc | project i")
    assert [r.i for r in got2.collect()] == [3, 4, 5, 9, 10, 11]
    # per-group serialization: the frame never crosses group bounds
    df2 = spark.createDataFrame(
        [(g, i, "err" if (g, i) == (1, 0) else "ok")
         for g in (0, 1) for i in range(3)],
        "g int, i int, s string")
    got3 = kql(
        df2,
        "T | sort by i asc | serialize by g"
        " | evaluate rows_near(s == 'err', 2)"
        " | order by g asc, i asc | project g, i")
    assert [(r.g, r.i) for r in got3.collect()] == [(1, 0), (1, 1), (1, 2)]
    with pytest.raises(KqlError):
        kql(df, "T | evaluate rows_near(s == 'err', 1)")


@pytest.fixture(scope="module")
def tiny_activity(spark):
    return spark.createDataFrame(
        [("A", "2024-01-01 00:30:00"), ("A", "2024-01-01 01:10:00"),
         ("B", "2024-01-01 01:20:00"), ("C", "2024-01-01 03:40:00")],
        "uid string, t string",
    ).select("uid", F.col("t").cast("timestamp_ntz").alias("t"))


def test_sliding_window_counts(tiny_activity):
    got = kql(
        tiny_activity,
        "T | evaluate sliding_window_counts(uid, t,"
        " datetime(2024-01-01 00:00:00), datetime(2024-01-01 05:00:00),"
        " 2h, 1h) | order by t asc")
    rows = [(r.t.hour, r.count_, r.dcount) for r in got.collect()]
    assert rows == [
        (0, 1, 1), (1, 3, 2), (2, 2, 2), (3, 1, 1), (4, 1, 1), (5, 0, 0),
    ]


def test_activity_counts_metrics(tiny_activity):
    got = kql(
        tiny_activity,
        "T | evaluate activity_counts_metrics(uid, t,"
        " datetime(2024-01-01 00:00:00), datetime(2024-01-01 03:00:00),"
        " 1h) | order by t asc")
    rows = [(r.t.hour, r.count_, r.dcount, r.new_dcount,
             r.aggregated_dcount) for r in got.collect()]
    # C (03:40) is outside End = 03:00 — records past End are ignored
    assert rows == [
        (0, 1, 1, 1, 1), (1, 2, 2, 1, 2), (2, 0, 0, 0, 2),
        (3, 0, 0, 0, 2),
    ]


def test_externaldata(spark, tmp_path):
    p = tmp_path / "ext.csv"
    p.write_text("1,alpha\n2,beta\n")
    got = kql(
        spark.range(1).toDF("id"),
        f"externaldata (k: long, s: string) ['{p}']"
        " with (format = 'csv')"
        " | order by k asc")
    assert [(r.k, r.s) for r in got.collect()] == [
        (1, "alpha"), (2, "beta")]
    # parquet with explicit schema straight off the test data
    got2 = kql(
        spark.range(1).toDF("id"),
        f"externaldata (r_regionkey: int, r_name: string)"
        f" ['{SF}/region.parquet'] with (format = 'parquet')"
        " | summarize n = count()")
    assert got2.collect()[0].n == 5
    with pytest.raises(KqlError):
        kql(spark.range(1).toDF("id"),
            "externaldata (k: long) ['/x'] with (format = 'xml')")


def test_series_fit_2lines_dynamic(spark):
    df = spark.createDataFrame([(1,)], "id int")
    # two perfect segments: flat 0s then a slope-2 line → rss 0,
    # split at 3
    r = kql(
        df,
        "T | extend d = series_fit_2lines_dynamic("
        "pack_array(0, 0, 0, 10, 12, 14))"
        " | project s = tolong(d.split_idx), rss = todouble(d.rss),"
        " ls = todouble(d.left.slope), rs = todouble(d.right.slope),"
        " ri = todouble(d.right.interception)",
    ).collect()[0]
    assert r.s == 3 and r.rss < 1e-9
    assert abs(r.ls) < 1e-9 and abs(r.rs - 2.0) < 1e-9
    # right intercept is in GLOBAL x coords: 10 = 2·3 + 4
    assert abs(r.ri - 4.0) < 1e-9


def test_bag_has_key_and_indexof_start(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project h = bag_has_key(bag_pack('a', 1, 'b', 2), 'b'),"
        " h0 = bag_has_key(bag_pack('a', 1), 'z'),"
        " i1 = indexof('abcabc', 'bc', 2),"
        " i0 = indexof('abcabc', 'bc'),"
        " im = indexof('abcabc', 'zz', 1)",
    ).collect()[0]
    assert r.h is True and r.h0 is False
    assert (r.i0, r.i1, r.im) == (1, 4, -1)


def test_percentilesw_array(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 1.0), (3.0, 8.0)], "v double, w double")
    got = kql(
        df,
        "T | summarize p = percentilesw_array(v, w, 10, 50, 90)",
    ).collect()[0]
    # total weight 10: cum thresholds 1, 5, 9 → v = 1, 3, 3
    assert got.p == [1.0, 3.0, 3.0]


def test_set_fns_and_fit_dynamic(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        " j = jaccard_index(pack_array(1, 2, 3), pack_array(2, 3, 4)),"
        " j0 = jaccard_index(pack_array(1), pack_array(2)),"
        " h = set_has_element(pack_array('a', 'b'), 'b'),"
        " h0 = set_has_element(pack_array('a', 'b'), 'z')",
    ).collect()[0]
    assert abs(r.j - 0.5) < 1e-12 and r.j0 == 0.0
    assert r.h is True and r.h0 is False
    r2 = kql(
        df,
        "T | extend d = series_fit_line_dynamic(pack_array(0, 2, 4, 6))"
        " | project s = todouble(d.slope),"
        " b = todouble(d.interception), r2 = todouble(d.rsquare),"
        " rv = todouble(d.rvariance), l3 = todouble(d.line_fit[3])",
    ).collect()[0]
    assert abs(r2.s - 2.0) < 1e-9 and abs(r2.b) < 1e-9
    assert abs(r2.r2 - 1.0) < 1e-9 and r2.rv < 1e-12
    assert abs(r2.l3 - 6.0) < 1e-9


def test_arg_max_star(spark):
    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 9, "b"), (2, 3, "c"), (2, 3, "d")],
        "k int, v int, s string")
    got = kql(df, "T | summarize arg_max(v, *) by k | order by k asc")
    assert sorted(got.columns) == ["k", "s", "v"]
    rows = [(r.k, r.v, r.s) for r in got.collect()]
    # k=2 ties on v=3 → full-row struct tie-break picks the max row 'd'
    assert rows == [(1, 9, "b"), (2, 3, "d")]
    got2 = kql(
        df,
        "T | summarize arg_min(v, *), n = count() by k"
        " | order by k asc")
    assert [(r.k, r.v, r.s, r.n) for r in got2.collect()] == [
        (1, 5, "a", 2), (2, 3, "c", 2)]
    # explicit column-list form
    got3 = kql(df, "T | summarize arg_min(v, s, v) by k"
                   " | order by k asc")
    assert sorted(got3.columns) == ["k", "s", "v"]
    assert [(r.k, r.s, r.v) for r in got3.collect()] == [
        (1, "a", 5), (2, "c", 3)]
    # take_any(*): deterministic min-row pick
    got4 = kql(df, "T | summarize take_any(*) by k | order by k asc")
    assert [(r.k, r.v, r.s) for r in got4.collect()] == [
        (1, 5, "a"), (2, 3, "c")]


def test_arg_max_column_list_includes_rank(spark):
    # Kusto's arg_max(E, c1, c2) outputs E's column too (ADVICE r4)
    df = spark.createDataFrame(
        [(1, 5, "a", 10), (1, 9, "b", 20), (2, 3, "c", 30),
         (2, 3, "d", 40)],
        "k int, v int, s string, w int")
    got = kql(df, "T | summarize arg_max(v, s, w) by k | order by k asc")
    assert got.columns == ["k", "v", "s", "w"]
    assert [tuple(r) for r in got.collect()] == [
        (1, 9, "b", 20), (2, 3, "d", 40)]
    # rank column listed explicitly → not duplicated
    got2 = kql(df, "T | summarize arg_min(v, s, v) by k | order by k asc")
    assert sorted(got2.columns) == ["k", "s", "v"]


def test_arg_max_star_with_unorderable_columns(spark):
    # map / VARIANT columns can't sit in an ordering struct; the
    # tie-break must skip them while the payload still carries them
    df = spark.createDataFrame(
        [(1, 5, "a"), (1, 9, "b"), (2, 3, "c")],
        "k int, v int, s string",
    ).selectExpr("k", "v", "map(s, v) as m")
    got = kql(df, "T | summarize arg_max(v, *) by k | order by k asc")
    rows = got.collect()
    assert got.columns == ["k", "v", "m"]
    assert [(r.k, r.v, dict(r.m)) for r in rows] == [
        (1, 9, {"b": 9}), (2, 3, {"c": 3})]
    got2 = kql(df, "T | summarize take_any(*) by k | order by k asc")
    assert [(r.k, r.v) for r in got2.collect()] == [(1, 5), (2, 3)]


def test_countof_overlapping_and_indexof_negative(spark):
    df = spark.createDataFrame([("aaa", "aa")], "t string, n string")
    r = kql(df, "T | project a = countof(t, n),"
                " b = countof(t, n, 'normal'),"
                " c = countof('banana', 'ana'),"
                " d = countof('a.a.a', '.')").collect()[0]
    # Kusto counts OVERLAPPING plain-string matches; needle is
    # literal-quoted so regex metacharacters count as text
    assert (r.a, r.b, r.c, r.d) == (2, 2, 2, 2)
    r = kql(df, "T | project a = indexof('abcdef', 'de', -3),"
                " b = indexof('abcdef', 'ab', -100),"
                " c = indexof('abcdef', 'de', 1)").collect()[0]
    # negative start = offset from END of source (Kusto), clamped at 0
    assert (r.a, r.b, r.c) == (3, 0, 3)


def test_bag_zip_malformed_keys_degrade(spark):
    df = spark.createDataFrame([(1,)], "i int")
    # duplicate keys keep FIRST; surplus keys pad with null — no crash
    r = kql(df, "T | extend b = bag_zip("
                "pack_array('a', 'b', 'a', 'c'), pack_array(1, 2, 3))"
                " | project j = tostring(b)").collect()[0]
    import json
    assert json.loads(r.j) == {"a": 1, "b": 2, "c": None}
    # null keys are skipped instead of raising
    df2 = spark.createDataFrame([(1, None)], "i int, ns string")
    r = kql(df2, "T | extend b = bag_zip(pack_array('x', ns, 'z'),"
                 " pack_array(1, 2, 3))"
                 " | project j = tostring(b)").collect()[0]
    assert json.loads(r.j) == {"x": 1, "z": 3}


def test_pack_all_and_quarter_bounds(spark):
    import json

    df = spark.createDataFrame([(1, "x")], "k int, s string")
    r = kql(
        df,
        "T | extend b = pack_all()"
        " | project j = tostring(b), kk = tolong(b.k)",
    ).collect()[0]
    assert json.loads(r.j) == {"k": 1, "s": "x"}
    assert r.kk == 1
    r2 = kql(
        df,
        "T | project q = startofquarter(datetime(2024-05-15)),"
        " eq = endofquarter(datetime(2024-05-15)),"
        " y = startofyear(datetime(2024-05-15)),"
        " ey = endofyear(datetime(2024-05-15))",
    ).collect()[0]
    assert str(r2.q) == "2024-04-01 00:00:00"
    assert str(r2.eq) == "2024-06-30 23:59:59.999999"
    assert str(r2.y) == "2024-01-01 00:00:00"
    assert str(r2.ey) == "2024-12-31 23:59:59.999999"


def test_union_isfuzzy(spark):
    df = spark.createDataFrame([(1,)], "k int")
    t2 = spark.createDataFrame([(2,)], "k int")
    got = kql(
        df,
        "T | union isfuzzy = true t2, no_such_table | order by k asc",
        tables={"t2": t2})
    assert [r.k for r in got.collect()] == [1, 2]
    with pytest.raises(KqlError):
        kql(df, "T | union t2, no_such_table", tables={"t2": t2})


def test_parse_csv_bag_zip_format_bytes(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        " c = parse_csv('a,\"x,y\",3,\"he said \"\"hi\"\"\"'),"
        " z = tostring(bag_zip(pack_array('k1', 'k2', 'k3'),"
        " pack_array(10, 25))),"
        " f1 = format_bytes(1024), f2 = format_bytes(1536, 1),"
        " f3 = format_bytes(512), f4 = format_bytes(2147483648, 2)",
    ).collect()[0]
    assert r.c == ["a", "x,y", "3", 'he said "hi"']
    import json
    assert json.loads(r.z) == {"k1": 10, "k2": 25, "k3": None}
    assert r.f1 == "1 KB" and r.f2 == "1.5 KB"
    assert r.f3 == "512 Bytes" and r.f4 == "2.00 GB"


def test_row_window_session(spark):
    df = spark.createDataFrame(
        [("u", "2024-01-01 00:00:00"), ("u", "2024-01-01 00:00:10"),
         ("u", "2024-01-01 00:01:40"), ("u", "2024-01-01 00:01:45"),
         ("v", "2024-01-01 00:00:05")],
        "uid string, t string",
    ).select("uid", F.col("t").cast("timestamp_ntz").alias("t"))
    got = kql(
        df,
        "T | sort by t asc | serialize by uid"
        " | extend s = row_window_session(t, 0, 30s)"
        " | order by uid asc, t asc | project uid, s")
    rows = [(r.uid, r.s.minute, r.s.second) for r in got.collect()]
    assert rows == [
        ("u", 0, 0), ("u", 0, 0), ("u", 1, 40), ("u", 1, 40),
        ("v", 0, 5),
    ]
    with pytest.raises(KqlError):
        kql(df, "T | sort by t asc | serialize by uid"
                " | extend s = row_window_session(t, 1d, 30s)")


def test_sort_nulls_and_mv_expand_itemindex(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5)], "k int, v int")
    got = kql(df, "T | sort by v asc nulls last | project k")
    assert [r.k for r in got.collect()] == [3, 1, 2]
    got2 = kql(df, "T | sort by v desc nulls first | project k")
    assert [r.k for r in got2.collect()] == [2, 1, 3]
    df2 = spark.createDataFrame([(1,)], "id int")
    got3 = kql(
        df2,
        "T | extend a = pack_array('x', 'y', 'z')"
        " | mv-expand with_itemindex = ix e = a"
        " | project ix, e | order by ix asc")
    assert [(r.ix, r.e) for r in got3.collect()] == [
        (0, "x"), (1, "y"), (2, "z")]


def test_ipv4_scalar_quartet(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project p = parse_ipv4('192.168.1.1'),"
        " pm = parse_ipv4('192.168.1.1/24'),"
        " pm2 = parse_ipv4_mask('192.168.1.1', 24),"
        " sfx = ipv4_netmask_suffix('10.0.0.0/8'),"
        " sfx32 = ipv4_netmask_suffix('10.0.0.1'),"
        " sfxbad = ipv4_netmask_suffix('not-an-ip'),"
        " f = format_ipv4(3232235777),"
        " fm = format_ipv4('192.168.1.5/24'),"
        " fm2 = format_ipv4('10.1.2.3', 16),"
        " bad = parse_ipv4('bad')",
    ).collect()[0]
    assert r.p == 3232235777 and r.pm == 3232235776 == r.pm2
    assert (r.sfx, r.sfx32, r.sfxbad) == (8, 32, None)
    assert r.f == "192.168.1.1" and r.fm == "192.168.1.0"
    assert r.fm2 == "10.1.0.0" and r.bad is None


def test_unicode_codepoints(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project a = unicode_codepoints_from_string('Aé€'),"
        " s = unicode_codepoints_to_string(pack_array(72, 105)),"
        " e = unicode_codepoints_from_string('')",
    ).collect()[0]
    assert r.a == [65, 233, 8364]
    assert r.s == "Hi"
    assert r.e == []


def test_countof_regex_and_parse_path(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        " cr = countof('a1b22c333', '\\\\d+', 'regex'),"
        " cn = countof('abcabc', 'bc', 'normal'),"
        " pp = parse_path('/data/logs/app_2024/trace.json.gz'),"
        " wn = parse_path('C:\\\\dir\\\\file.txt')"
        " | project cr, cn, dp = tostring(pp.DirectoryPath),"
        " dn = tostring(pp.DirectoryName), fn = tostring(pp.Filename),"
        " ext = tostring(pp.Extension), rp = tostring(wn.RootPath),"
        " wfn = tostring(wn.Filename)",
    ).collect()[0]
    assert (r.cr, r.cn) == (3, 2)
    assert (r.dp, r.dn, r.fn, r.ext) == (
        "/data/logs/app_2024", "app_2024", "trace.json.gz", "gz")
    assert (r.rp, r.wfn) == ("C:", "file.txt")


def test_graph_mark_components(spark):
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "s long, d long")
    got = kql(
        df,
        "T | make-graph s --> d"
        " | graph-mark-components with_component_id = comp"
        " | graph-to-table nodes | order by node_id asc")
    rows = [(r.node_id, r.comp) for r in got.collect()]
    assert rows == [
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5), (7, 7),
    ]
    with pytest.raises(KqlError):
        kql(df, "T | make-graph s --> d"
                " | graph-mark-components kind = strong")


def test_array_split(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project a = array_split(pack_array(1, 2, 3, 4, 5), 2),"
        " b = array_split(pack_array(1, 2, 3, 4, 5), pack_array(1, 3)),"
        " c = array_split(pack_array(1, 2, 3, 4, 5), -2),"
        " d = array_split(pack_array(1, 2), 7),"
        " e = array_split(pack_array(1, 2, 3), pack_array(2, 1))",
    ).collect()[0]
    assert r.a == [[1, 2], [3, 4, 5]]
    assert r.b == [[1], [2, 3], [4, 5]]
    assert r.c == [[1, 2, 3], [4, 5]]
    assert r.d == [[1, 2], []]          # out-of-range clamps
    assert r.e == [[1, 2], [], [2, 3]]  # inverted pair → empty segment


def test_bag_surgery(spark):
    import json

    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        " m = tostring(bag_merge(bag_pack('a', 1, 'b', 'x'),"
        " bag_pack('a', 9, 'c', 2.5))),"
        " s = tostring(bag_set_key(bag_pack('a', 1), 'b', 'y')),"
        " o = tostring(bag_set_key(bag_pack('a', 1), 'a', 7)),"
        " rm = tostring(bag_remove_keys(bag_pack('a', 1, 'b', 2),"
        " pack_array('b', 'z')))",
    ).collect()[0]
    # first bag's keys win in bag_merge; set replaces; remove drops
    assert json.loads(r.m) == {"a": 1, "b": "x", "c": 2.5}
    assert json.loads(r.s) == {"a": 1, "b": "y"}
    assert json.loads(r.o) == {"a": 7}
    assert json.loads(r.rm) == {"a": 1}


def test_bag_twin_fusion_never_leaks(spark):
    """Chained bag surgery composes on the hidden map twin — the twin
    columns must never appear in any user-visible output, across both
    twin-preserving stages (where/extend/project) and column-reshaping
    ones (summarize, mv-expand), and fused accessor reads must equal
    the unfused VARIANT path walk."""
    import json

    df = spark.createDataFrame(
        [(1, "x", 2.0), (2, "y", 3.0)], "id int, s string, v double")
    q = (
        "T | extend b = bag_merge(bag_pack('t', s, 'v', v),"
        " bag_pack('v', -1.0, 'u', id))"
        " | extend b2 = bag_set_key(b, 'w', v * 2)"
        " | where isnotnull(b.t)"
        " | project id, t = tostring(b.t), w = todouble(b2.w),"
        " j = tostring(b2)"
    )
    out = kql(df, q)
    assert not [c for c in out.columns if c.startswith("__bag_twin__")]
    rows = {r.id: r for r in out.collect()}
    assert rows[1].t == "x" and rows[1].w == 4.0
    assert json.loads(rows[1].j) == {"t": "x", "v": 2.0, "u": 1, "w": 4.0}
    # reshaping stage after an extend that created twins
    agg = kql(
        df,
        "T | extend b = bag_pack('t', s) | extend t2 = tostring(b.t)"
        " | summarize n = count() by t2 | order by t2 asc")
    assert not [c for c in agg.columns if c.startswith("__bag_twin__")]
    assert [(r.t2, r.n) for r in agg.collect()] == [("x", 1), ("y", 1)]
    # reassigning a twinned name to a non-bag drops the stale twin
    re2 = kql(
        df,
        "T | extend b = bag_pack('a', id) | extend b = id * 10"
        " | project id, b")
    assert [tuple(r) for r in re2.orderBy("id").collect()] == [
        (1, 10), (2, 20)]


def test_dcount_intersect(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(10)] + [("b", i) for i in range(5, 12)]
        + [("c", i) for i in range(8, 20)],
        "s string, v long")
    got = kql(
        df,
        "T | summarize ha = hll(iff(s == 'a', v, long(null))),"
        " hb = hll(iff(s == 'b', v, long(null))),"
        " hc = hll(iff(s == 'c', v, long(null)))"
        " | evaluate dcount_intersect(ha, hb, hc)")
    r = got.collect()[0]
    # A = 0..9, B = 5..11, C = 8..19 → |A| = 10, |A∩B| = 5 (5..9),
    # |A∩B∩C| = 2 (8, 9); sparse sketches are exact
    assert (r.s0, r.s1, r.s2) == (10, 5, 2)


def test_funnel_sequence_completion(spark):
    rows = []
    for uid, pts in {
        "u1": [(0, "s1"), (5, "s2"), (20, "s3")],   # s3 past 10s bound
        "u2": [(0, "s1"), (2, "s2"), (8, "s3")],    # full completion
        "u3": [(70, "s1")],                          # prefix 1 only
    }.items():
        rows += [(uid, f"2024-01-01 00:{s // 60:02d}:{s % 60:02d}", st)
                 for s, st in pts]
    df = spark.createDataFrame(rows, "uid string, t string, st string") \
        .select("uid", F.col("t").cast("timestamp_ntz").alias("t"), "st")
    got = kql(
        df,
        "T | evaluate funnel_sequence_completion(uid, t,"
        " datetime(2024-01-01 00:00:00), datetime(2024-01-02 00:00:00),"
        " 1m, st, dynamic(['s1', 's2', 's3']), dynamic([6s, 10s]))")
    res = {(r.st, r.t.minute): r.dcount for r in got.collect()}
    # s1 completions: u1,u2 in minute 0; u3 in minute 1
    # s2 (≤6s from first): u1 (5s), u2 (2s) in minute 0
    # s3 (≤10s from first): only u2 (8s); u1's 20s exceeds the bound
    assert res == {
        ("s1", 0): 2, ("s1", 1): 1, ("s2", 0): 2, ("s3", 0): 1,
    }


def test_funnel_sequence(spark):
    rows = []
    for uid, pts in {
        "u1": [(0, "a"), (1, "s1"), (2, "s2"), (3, "s3"), (4, "b")],
        "u2": [(0, "s1"), (1, "s2"), (2, "s3")],
        "u3": [(0, "s1"), (10, "s2"), (11, "s3")],   # s1→s2 gap > 5s
        "u4": [(0, "x"), (1, "s1"), (2, "s2"), (9, "s3")],  # s2→s3 gap
    }.items():
        rows += [(uid, f"2024-01-01 00:00:{s:02d}", st) for s, st in pts]
    df = spark.createDataFrame(rows, "uid string, t string, st string") \
        .select("uid", F.col("t").cast("timestamp_ntz").alias("t"), "st")
    got = kql(
        df,
        "T | evaluate funnel_sequence(uid, t,"
        " datetime(2024-01-01 00:00:00), datetime(2024-01-02 00:00:00),"
        " 5s, st, dynamic(['s1', 's2', 's3']))")
    assert {(r.prev, r.next, r.dcount) for r in got.collect()} == {
        ("a", "b", 1), (None, None, 1),
    }


def test_rolling_percentile(spark):
    df = spark.createDataFrame(
        [("2024-01-01 00:10:00", 1.0), ("2024-01-01 00:50:00", 3.0),
         ("2024-01-01 01:30:00", 5.0), ("2024-01-01 03:20:00", 7.0)],
        "t string, v double",
    ).select(F.col("t").cast("timestamp_ntz").alias("t"), "v")
    got = kql(
        df,
        "T | evaluate rolling_percentile(v, 50, t, 1h, 2)"
        " | order by t asc")
    rows = [(r.t.hour, r.rolling_2_percentile_v_50)
            for r in got.collect()]
    # bins that only inherit lookback rows ARE emitted (full Kusto
    # semantics): h2 inherits h1's 5.0, h4 inherits h3's 7.0
    assert rows == [(0, 2.0), (1, 3.0), (2, 5.0), (3, 7.0), (4, 7.0)]
    # numeric index column + per-dim grouping
    df2 = spark.createDataFrame(
        [(0, "a", 10.0), (5, "a", 20.0), (12, "a", 30.0),
         (12, "b", 100.0)],
        "i long, g string, v double")
    got2 = kql(
        df2,
        "T | evaluate rolling_percentile(v, 100, i, 10, 2, g)"
        " | order by i asc, g asc")
    rows2 = [(r.i, r.g, r.rolling_2_percentile_v_100)
             for r in got2.collect()]
    # trailing inherited bins (i=20) now emit per dim too
    assert rows2 == [
        (0.0, "a", 20.0), (10.0, "a", 30.0), (10.0, "b", 100.0),
        (20.0, "a", 30.0), (20.0, "b", 100.0),
    ]


def test_session_count(spark):
    df = spark.createDataFrame(
        [("A", "2024-01-01 00:30:00"), ("A", "2024-01-01 01:00:00"),
         ("A", "2024-01-01 04:00:00"), ("B", "2024-01-01 02:30:00")],
        "uid string, t string",
    ).select("uid", F.col("t").cast("timestamp_ntz").alias("t"))
    got = kql(
        df,
        "T | evaluate session_count(uid, t,"
        " datetime(2024-01-01 00:00:00), datetime(2024-01-01 06:00:00),"
        " 1h, 1h) | order by t asc")
    rows = [(r.t.hour, r.count_sessions) for r in got.collect()]
    # A: [00:30,01:00] active→02:00 (bins 0-2), new session 04:00
    # active→05:00 (bins 4-5); B: 02:30 active→03:30 (bins 2-3)
    assert rows == [
        (0, 1), (1, 1), (2, 2), (3, 1), (4, 1), (5, 1), (6, 0),
    ]


def test_has_any_all(events):
    got = kql(
        events,
        "events | where event_type has_any ('click', 'view')")
    exp = events.filter(F.col("event_type").isin("click", "view"))
    assert got.count() == exp.count() > 0
    df = events.sparkSession.createDataFrame(
        [("North America east",), ("orth america",)], "s string")
    assert kql(df, "T | where s has_any ('north')").count() == 1
    assert kql(
        df, "T | where s has_all ('america', 'east')").count() == 1
    assert kql(
        df, "T | where s has_all ('america', 'west')").count() == 0


def test_new_activity_metrics(tiny_activity):
    got = kql(
        tiny_activity,
        "T | evaluate new_activity_metrics(uid, t,"
        " datetime(2024-01-01 00:00:00), datetime(2024-01-01 03:00:00),"
        " 1h) | order by from_t asc, to_t asc")
    rows = [(r.from_t.hour, r.to_t.hour, r.new_dcount, r.retained_dcount,
             r.retention_rate) for r in got.collect()]
    # C (03:40) is outside End = 03:00 — cohorts are A (h0) and B (h1)
    assert rows == [
        (0, 0, 1, 1, 1.0), (0, 1, 1, 1, 1.0), (0, 2, 1, 0, 0.0),
        (0, 3, 1, 0, 0.0), (1, 1, 1, 1, 1.0), (1, 2, 1, 0, 0.0),
        (1, 3, 1, 0, 0.0), (2, 2, 0, 0, None), (2, 3, 0, 0, None),
        (3, 3, 0, 0, None),
    ]


def test_series_decompose_parts(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        # period 1: seasonal = global median 3, deseason is a perfect
        # line -> trend recovers it exactly, residual 0
        " t1 = series_decompose_trend(pack_array(0, 2, 4, 6), 1),"
        " b1 = series_decompose_baseline(pack_array(0, 2, 4, 6), 1),"
        " r1 = series_decompose_residual(pack_array(0, 2, 4, 6), 1),"
        # pure period-2 oscillation: trend 0, baseline = the pattern
        " t2 = series_decompose_trend(pack_array(1, 5, 1, 5), 2),"
        " b2 = series_decompose_baseline(pack_array(1, 5, 1, 5), 2),"
        " e = series_decompose_residual(dynamic([]), 2)",
    ).collect()[0]
    assert r.t1 == [-3.0, -1.0, 1.0, 3.0]
    assert r.b1 == [0.0, 2.0, 4.0, 6.0]
    assert r.r1 == [0.0, 0.0, 0.0, 0.0]
    assert r.t2 == [0.0, 0.0, 0.0, 0.0]
    assert r.b2 == [1.0, 5.0, 1.0, 5.0]
    assert list(r.e) == []


def test_evaluate_basket_triples(spark):
    df = spark.createDataFrame(
        [("a", "x", "p")] * 5 + [("a", "x", "q")] * 2
        + [("b", "y", "p")] * 3,
        "k string, s string, t string",
    )
    rows = {
        (r.k, r.s, r.t, r.support_count)
        for r in kql(df, "T | evaluate basket(0.3)").collect()
    }
    # total 10, threshold 3: the frequent TRIPLES surface alongside
    # singles and pairs; (a,x,q)=2 stays below support
    assert ("a", "x", "p", 5) in rows
    assert ("b", "y", "p", 3) in rows
    assert ("a", "x", "q", 2) not in rows
    # sanity on lower sizes
    assert ("a", None, None, 7) in rows
    assert ("a", "x", None, 7) in rows
    assert (None, "x", "p", 5) in rows


def test_evaluate_basket_arbitrary_size(spark):
    # the FP-growth-shaped path: itemsets of size 4 (and every smaller
    # subset) surface above the support floor; an infrequent ITEM never
    # appears in any itemset (Apriori prune); null values group as
    # items and render as NULL, same as the groupBy they replace
    df = spark.createDataFrame(
        [("a", "x", "p", "1")] * 4 + [("a", "x", "p", "2")] * 3
        + [("b", "y", "q", None)] * 3,
        "k string, s string, t string, u string",
    )
    rows = {
        (r.k, r.s, r.t, r.u, r.support_count)
        for r in kql(df, "T | evaluate basket(0.3)").collect()
    }
    assert ("a", "x", "p", "1", 4) in rows      # quadruple
    assert ("a", "x", "p", "2", 3) in rows      # quadruple at the floor
    assert ("a", "x", "p", None, 7) in rows     # triple (wildcard u)
    assert ("b", "y", "q", None, 3) in rows     # null u grouped as item
    assert not any(r[4] < 3 for r in rows)
    # every item of every itemset is itself frequent (anti-monotone)
    singles = {(r[0], r[1], r[2], r[3]) for r in rows
               if sum(v is not None for v in r[:4]) == 1}
    assert ("a", None, None, None) in singles
    assert ("b", None, None, None) in singles
    # infrequent threshold check: 12-column cap raises clearly
    wide = spark.createDataFrame([tuple("v" for _ in range(13))],
                                 ", ".join(f"c{i} string"
                                           for i in range(13)))
    with pytest.raises(KqlError, match="12 input columns"):
        kql(wide, "T | evaluate basket(0.3)")


def test_array_manipulation_fns(spark):
    df = spark.createDataFrame([(1,)], "id int")
    r = kql(
        df,
        "T | project"
        " sl = array_slice(pack_array(10, 20, 30, 40), 1, 2),"
        " sln = array_slice(pack_array(10, 20, 30, 40), -2, -1),"
        " sle = array_slice(pack_array(10, 20, 30), 2, 1),"
        " slc = array_slice(pack_array(10, 20, 30), 1, 99),"
        " cat = array_concat(pack_array(1, 2), pack_array(3)),"
        " rl = array_rotate_left(pack_array(1, 2, 3), 1),"
        " rr = array_rotate_right(pack_array(1, 2, 3), 1),"
        " rl4 = array_rotate_left(pack_array(1, 2, 3), 4),"
        " rneg = array_rotate_left(pack_array(1, 2, 3), -1),"
        " re = array_rotate_left(dynamic([]), 2),"
        " shl = array_shift_left(pack_array(1, 2, 3), 1),"
        " shlf = array_shift_left(pack_array(1, 2, 3), 2, 0),"
        " shr = array_shift_right(pack_array(1, 2, 3), 1, 9),"
        " shbig = array_shift_left(pack_array(1, 2, 3), 5, 7),"
        " rev = array_reverse(pack_array(1, 2, 3)),"
        " zp = zip(pack_array(1, 2), pack_array(3, 4)),"
        " rp = repeat(7, 3),"
        " ai = array_iff(pack_array(true, false), pack_array(1, 2),"
        " pack_array(8, 9)),"
        ' sj = strcat_array(pack_array("a", "b", "c"), "|")',
    ).collect()[0]
    assert r.sl == [20, 30]
    assert r.sln == [30, 40]
    assert list(r.sle) == []          # inverted window -> empty
    assert r.slc == [20, 30]          # end clamps to size-1
    assert r.cat == [1, 2, 3]
    assert r.rl == [2, 3, 1]
    assert r.rr == [3, 1, 2]
    assert r.rl4 == [2, 3, 1]         # 4 mod 3 == 1
    assert r.rneg == [3, 1, 2]        # negative rotates right
    assert list(r.re) == []
    assert r.shl == [2, 3, None]
    assert r.shlf == [3, 0, 0]
    assert r.shr == [9, 1, 2]
    assert r.shbig == [7, 7, 7]       # shift >= size fills everything
    assert r.rev == [3, 2, 1]
    assert [list(x) for x in r.zp] == [[1, 3], [2, 4]]
    assert r.rp == [7, 7, 7]
    assert r.ai == [1, 9]
    assert r.sj == "a|b|c"


def test_hll_sketch_aggs(spark):
    """hll()/hll_merge()/dcount_hll(): exact in sparse mode, within the
    Datasketches error bound (~1.6%/sqrt(2^lgK), lgK=12 default) at
    large cardinality (Kusto aggregates.md hll/dcount_hll contract)."""
    # sparse (coupon) mode is exact through ~384 distinct at the
    # default lgK=12; measured empirically (400 -> 398). The oracle
    # query's gate-scale cardinality (<=150) sits well inside this.
    small = spark.range(0, 300).select(
        (F.col("id") % 5).alias("g"), F.col("id").alias("v")
    )
    r = kql(
        small,
        "t | summarize s = hll(v) by g"
        " | summarize du = dcount_hll(hll_merge(s)), n = count()",
    ).collect()[0]
    assert r.du == 300 and r.n == 5
    big = spark.range(0, 200_000).select(
        (F.col("id") % 4).alias("g"), F.col("id").alias("v")
    )
    r2 = kql(
        big,
        "t | summarize s = hll(v) by g"
        " | summarize du = dcount_hll(hll_merge(s))",
    ).collect()[0]
    assert abs(r2.du - 200_000) / 200_000 < 0.05


def test_make_bag_and_conditional_collects(spark):
    """make_bag unions bags (one value per key survives); make_set_if /
    make_list_if drop failed-predicate rows entirely (not NULLs)."""
    rows = spark.createDataFrame(
        [("a", "k1", 1), ("a", "k2", 2), ("a", "k1", 9), ("b", "k3", 3)],
        "g string, k string, v int",
    )
    r = {
        x.g: x
        for x in kql(
            rows,
            "t | summarize b = make_bag(bag_pack(k, v)),"
            " se = array_sort_asc(make_set_if(v, v > 1)),"
            " li = array_sort_asc(make_list_if(v, v < 3)) by g"
            " | project g, ks = array_sort_asc(bag_keys(b)), se, li",
        ).collect()
    }
    assert r["a"].ks == ["k1", "k2"]
    assert r["a"].se == [2, 9]
    assert r["a"].li == [1, 2]
    assert r["b"].ks == ["k3"]
    assert list(r["b"].se) == [3]
    assert list(r["b"].li) == []


@pytest.fixture(scope="module")
def toy_graph(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 5.0),
         ("c", "a", 3.0), ("c", "d", 4.0)],
        "s string, t string, w double",
    )
    nodes = spark.createDataFrame(
        [("a", "svc"), ("b", "svc"), ("c", "db"), ("d", "cache")],
        "id string, kind string",
    )
    return edges, nodes


def test_graph_match_chain_with_node_props(toy_graph):
    edges, nodes = toy_graph
    r = kql(
        edges,
        "e | make-graph s --> t with n on id"
        " | graph-match (x)-[e1]->(y)-[e2]->(z)"
        " where e1.w < 3 and z.kind == 'db'"
        " project x_id = x.id, y_id = y.id, z_id = z.id,"
        " total = e1.w + e2.w, yk = y.kind",
        tables={"n": nodes},
    ).collect()
    assert [tuple(x) for x in r] == [("a", "b", "c", 3.0, "svc")]


def test_graph_match_directions_and_cycles(toy_graph):
    edges, _ = toy_graph
    # reverse edge + cycles=none: shared-target pairs, all nodes distinct
    got = sorted(
        tuple(x)
        for x in kql(
            edges,
            "e | make-graph s --> t"
            " | graph-match cycles=none (p)-[u]->(q)<-[v]-(p2)"
            " project p = p.node_id, q = q.node_id, p2 = p2.node_id",
        ).collect()
    )
    assert got == [("a", "c", "b"), ("b", "c", "a")]
    # cycle pattern: same node var at both ends closes the loop
    got2 = sorted(
        tuple(x)
        for x in kql(
            edges,
            "e | make-graph s --> t"
            " | graph-match (a)-[e1]->(b)-[e2]->(a)"
            " project a = a.node_id, b = b.node_id",
        ).collect()
    )
    assert got2 == [("a", "c"), ("c", "a")]
    # default cycles=unique_edges: a self-2-cycle over ONE edge row is
    # not a match (e1 == e2 whole-row) — needs a true self-loop edge
    loop = kql(
        edges,
        "e | make-graph s --> t"
        " | graph-match (a)-[e1]->(a)-[e2]->(a)"
        " project a = a.node_id",
    )
    assert loop.count() == 0


def test_graph_to_table_and_missing_node_rows(spark):
    edges = spark.createDataFrame(
        [("a", "x", 1), ("x", "b", 2)], "s string, t string, w int"
    )
    nodes = spark.createDataFrame([("a", 10)], "id string, deg int")
    got = kql(
        edges,
        "e | make-graph s --> t with_node_id=nid | graph-to-table nodes",
    )
    assert sorted(x.nid for x in got.collect()) == ["a", "b", "x"]
    # node rows absent from the node table still match; props are NULL
    r = kql(
        edges,
        "e | make-graph s --> t with n on id"
        " | graph-match (p)-[e1]->(q)"
        " project p = p.id, q = q.id, pd = p.deg, qd = q.deg",
        tables={"n": nodes},
    ).collect()
    rows = {(x.p, x.q): (x.pd, x.qd) for x in r}
    assert rows == {("a", "x"): (10, None), ("x", "b"): (None, None)}


def test_graph_match_errors(toy_graph):
    edges, _ = toy_graph
    with pytest.raises(KqlError, match="make-graph"):
        kql(edges, "e | graph-match (a)-[e1]->(b) project a = a.node_id")
    with pytest.raises(KqlError, match="project"):
        kql(edges, "e | make-graph s --> t | graph-match (a)-[e1]->(b)")
    with pytest.raises(KqlError, match="duplicate edge"):
        kql(
            edges,
            "e | make-graph s --> t"
            " | graph-match (a)-[e1]->(b)-[e1]->(c) project a = a.node_id",
        )


def test_graph_match_variable_length(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 5.0),
         ("c", "d", 4.0), ("d", "e", 1.5)],
        "s string, t string, w double",
    )
    r = kql(
        edges,
        "e | make-graph s --> t"
        " | graph-match (p)-[e*1..3]->(q)"
        " where p.node_id == 'a' and all(e, e.w < 4.5)"
        " project q = q.node_id, n = array_length(map(e, e.w)),"
        " tot = array_sum(map(e, e.w))",
    ).collect()
    assert sorted((x.q, x.n, x.tot) for x in r) == [
        ("b", 1, 1.0), ("c", 2, 3.0), ("d", 3, 7.0)]
    # zero-length hop: nodes coincide, map(e, …) is empty
    r2 = kql(
        edges,
        "e | make-graph s --> t"
        " | graph-match (p)-[e*0..1]->(q)"
        " where p.node_id == 'c'"
        " project q = q.node_id, h = array_length(map(e, e.w))",
    ).collect()
    assert sorted((x.q, x.h) for x in r2) == [("c", 0), ("d", 1)]
    # any() + var-length followed by a fixed edge
    r3 = kql(
        edges,
        "e | make-graph s --> t"
        " | graph-match (p)-[e*1..2]->(m)-[f]->(q)"
        " where p.node_id == 'a' and any(e, e.w > 4.0) and f.w >= 2.0"
        " project m = m.node_id, q = q.node_id",
    ).collect()
    assert sorted((x.m, x.q) for x in r3) == [("c", "d")]
    with pytest.raises(KqlError, match="repetition"):
        kql(edges, "e | make-graph s --> t"
            " | graph-match (p)-[e*1..99]->(q) project q = q.node_id")


def test_scalar_suite5_functions(spark):
    df = spark.createDataFrame(
        [("1.2.3.4",), ("10.0",), ("123456789.1",)], "s string")
    got = {x.s: x.v for x in kql(
        df, "t | project s, v = tostring(parse_version(s))").collect()}
    assert got["1.2.3.4"] == "1000000020000000300000004"
    assert got["10.0"] == "10000000000000000000000000"
    assert got["123456789.1"] is None      # 9-digit part → invalid
    r = kql(
        spark.range(1).selectExpr("93784.512 as t"),
        "t | project a = format_timespan(t, 'd.hh:mm:ss.fff'),"
        " b = format_timespan(t, 'h:m:s'),"
        " ts = format_timespan(totimespan('90m'), 'hh:mm:ss'),"
        " e = url_encode('a b+c'), d = url_decode('a%20b%2Bc'),"
        " ec = url_encode_component('a b+c'),"
        " ir = indexof_regex('hello world', 'o w'),"
        " miss = indexof_regex('xy', 'zz')",
    ).collect()[0]
    assert (r.a, r.b, r.ts) == ("1.02:03:04.512", "2:3:4", "01:30:00")
    assert (r.e, r.d, r.ec) == ("a+b%2Bc", "a b+c", "a%20b%2Bc")
    assert (r.ir, r.miss) == (4, -1)


def test_percentilew_and_make_bag_if(spark):
    df = spark.createDataFrame(
        [("a", 1.0, 1.0), ("a", 2.0, 1.0), ("a", 3.0, 8.0),
         ("a", None, 5.0), ("b", 5.0, 1.0)],
        "g string, v double, w double",
    )
    r = {x.g: x for x in kql(
        df,
        "t | summarize p50 = percentilew(v, w, 50),"
        " p10 = percentilew(v, w, 10) by g",
    ).collect()}
    assert (r["a"].p50, r["a"].p10) == (3.0, 1.0)   # NULL v ignored
    assert (r["b"].p50, r["b"].p10) == (5.0, 5.0)
    df2 = spark.createDataFrame(
        [("a", "k1", 1), ("a", "k2", 5)], "g string, k string, v int")
    r2 = kql(
        df2,
        "t | summarize b = make_bag_if(bag_pack(k, v), v > 2) by g"
        " | project g, ks = bag_keys(b)",
    ).collect()[0]
    assert list(r2.ks) == ["k2"]


def test_evaluate_sequence_detect(spark):
    import datetime as dt
    T = dt.datetime(2024, 1, 1)

    def t(m):
        return T + dt.timedelta(minutes=m)

    rows = [
        (1, t(0), "a"), (1, t(5), "b"), (1, t(8), "c"),
        (2, t(0), "a"), (2, t(40), "b"),                    # window break
        (3, t(0), "a"), (3, t(10), "b"), (3, t(100), "c"),  # step 3 late
        (4, t(0), "b"), (4, t(1), "a"), (4, t(2), "b"), (4, t(3), "c"),
    ]
    df = spark.createDataFrame(rows, "uid long, ts timestamp, e string")
    r = {x.uid: x for x in kql(
        df,
        "t | extend s1 = e == 'a', s2 = e == 'b', s3 = e == 'c'"
        " | evaluate sequence_detect(ts, 30m, 1h, s1, s2, s3, uid)",
    ).collect()}
    assert set(r) == {1, 4}
    assert r[1].duration_sec == 480.0
    assert (r[4].s1_ts, r[4].duration_sec) == (t(1), 120.0)
    # inline predicates + name= extension also accepted
    r2 = kql(
        df,
        "t | evaluate sequence_detect(ts, 30m, 1h,"
        " first = e == 'a', second = e == 'c', uid)",
    ).collect()
    assert {x.uid for x in r2} == {1, 4}
    with pytest.raises(KqlError, match="key"):
        kql(df, "t | extend s1 = e == 'a', s2 = e == 'b'"
            " | evaluate sequence_detect(ts, 30m, 1h, s1, s2)")


def test_geo_functions(spark):
    r = kql(
        spark.range(1),
        "t | project"
        " d1 = round(geo_distance_2points(-122.407, 37.783,"
        " -0.1278, 51.5074) / 1000, 0),"
        " d2 = round(geo_distance_2points(0.0, 0.0, 1.0, 0.0), 1),"
        " inc = geo_point_in_circle(0.01, 0.0, 0.0, 0.0, 2000.0),"
        " outc = geo_point_in_circle(0.02, 0.0, 0.0, 0.0, 2000.0)",
    ).collect()[0]
    assert r.d1 == 8615.0          # SF → London, spherical ~8615 km
    assert r.d2 == 111195.1        # 1° on the equator
    assert (r.inc, r.outc) == (True, False)


def test_bin_auto(spark):
    df = spark.createDataFrame(
        [(1, 7.0), (2, 23.0), (3, 52.0)], "id long, v double")
    r = kql(
        df,
        "let query_bin_auto_size = 20.0;"
        " t | summarize n = count() by b = bin_auto(v) | order by b asc",
    ).collect()
    assert [(x.b, x.n) for x in r] == [(0.0, 1), (20.0, 1), (40.0, 1)]
    # anchored form
    r2 = kql(
        df,
        "let query_bin_auto_size = 20.0;"
        " let query_bin_auto_at = 5.0;"
        " t | summarize n = count() by b = bin_auto(v) | order by b asc",
    ).collect()
    assert [(x.b, x.n) for x in r2] == [(5.0, 2), (45.0, 1)]
    with pytest.raises(KqlError, match="query_bin_auto_size"):
        kql(df, "t | extend b = bin_auto(v)")


def test_geo_point_in_polygon(spark):
    # unit square with a centered hole; point checks cover inside,
    # in-hole, outside, and a concave-adjacent vertex-level row
    poly = ('{"type":"Polygon","coordinates":'
            "[[[0.0,0.0],[10.0,0.0],[10.0,10.0],[0.0,10.0],[0.0,0.0]],"
            "[[4.0,4.0],[6.0,4.0],[6.0,6.0],[4.0,6.0],[4.0,4.0]]]}")
    df = spark.createDataFrame(
        [(1, 2.0, 2.0), (2, 5.0, 5.0), (3, 11.0, 5.0),
         (4, -1.0, -1.0), (5, 9.9, 9.9)],
        "id long, x double, y double")
    r = kql(
        df,
        f"t | extend inp = geo_point_in_polygon(x, y,"
        f" parse_json('{poly}')) | order by id asc",
    ).collect()
    assert [x.inp for x in r] == [True, False, False, False, True]
    # line length: equator degree ~111.195 km, two segments add
    r2 = kql(
        spark.range(1),
        "t | project km = round(geo_line_length(bag_pack("
        "'type', 'LineString', 'coordinates',"
        " pack_array(pack_array(0.0, 0.0), pack_array(1.0, 0.0),"
        " pack_array(2.0, 0.0)))) / 1000, 1),"
        " short = geo_line_length(bag_pack('type', 'LineString',"
        " 'coordinates', pack_array(pack_array(0.0, 0.0)))),"
        " akm2 = round(geo_polygon_area(bag_pack('type', 'Polygon',"
        " 'coordinates', pack_array(pack_array("
        "pack_array(0.0, 0.0), pack_array(1.0, 0.0),"
        " pack_array(1.0, 1.0), pack_array(0.0, 1.0),"
        " pack_array(0.0, 0.0))))) / 1000000.0, 1)",
    ).collect()[0]
    assert r2.km == 222.4 and r2.short is None
    # Chamberlain–Duquette area of the 1°×1° equator square
    import math
    rad = 0.017453292519943295
    exp = abs(rad * (2.0 + 0.0 + 0.0) + (-rad) * (2.0 + 2 * math.sin(rad))
              ) * 6371010.0 ** 2 / 2 / 1e6
    assert r2.akm2 == round(exp, 1)  # ~12364 km²


def test_evaluate_activity_engagement(spark):
    import datetime as dt
    T = dt.datetime(2024, 1, 1)
    rows = []
    for d, us in [(0, [1, 2]), (1, [1]), (2, [2, 3])]:
        for u in us:
            rows.append((u, T + dt.timedelta(days=d, hours=3)))
    df = spark.createDataFrame(rows, "uid long, ts timestamp")
    r = kql(
        df,
        "t | evaluate activity_engagement(uid, ts, 1d, 3d)"
        " | order by ts asc",
    ).collect()
    got = [(x.dcount_activities_inner, x.dcount_activities_outer,
            x.activity_ratio) for x in r]
    assert got == [(2, 2, 1.0), (1, 2, 0.5), (2, 3, 0.666667)]
    with pytest.raises(KqlError, match="multiple"):
        kql(df, "t | evaluate activity_engagement(uid, ts, 7h, 1d)")


def test_evaluate_activity_metrics(spark):
    import datetime as dt
    T = dt.datetime(2024, 1, 1)
    rows = [(u, T + dt.timedelta(days=d, hours=3))
            for d, us in [(0, [1, 2]), (1, [1]), (2, [2, 3])]
            for u in us]
    df = spark.createDataFrame(rows, "uid long, ts timestamp")
    r = kql(
        df,
        "t | evaluate activity_metrics(uid, ts, 1d) | order by ts asc",
    ).collect()
    got = [(x.dcount_values, x.dcount_newvalues, x.retention_rate,
            x.churn_rate) for x in r]
    assert got == [(2, 2, None, None), (1, 0, 0.5, 0.5),
                   (2, 1, 0.0, 1.0)]


def test_find_operator(spark):
    t1 = spark.createDataFrame(
        [(1, "error", 9.0), (2, "click", 1.0)],
        "id long, name string, value double")
    t2 = spark.createDataFrame([(10, "engine"), (11, "zzz")],
                               "id long, name string")
    t3 = spark.createDataFrame([(99,)], "other long")
    r = kql(
        t1,
        "find in (t1, t2, t3) where name startswith 'e'"
        " project id, name, value",
        tables={"t1": t1, "t2": t2, "t3": t3},
    ).collect()
    got = sorted((x.source_, x.id, x.name, x.value) for x in r)
    assert got == [("t1", 1, "error", 9.0), ("t2", 10, "engine", None)]
    # without project: union of all matching tables' columns
    r2 = kql(t1, "find in (t1, t2) where name == 'error'",
             tables={"t1": t1, "t2": t2}).collect()
    assert [tuple(x) for x in r2] == [("t1", 1, "error", 9.0)]
    with pytest.raises(KqlError, match="none of the listed"):
        kql(t1, "find in (t3) where name == 'x'", tables={"t3": t3})


def test_evaluate_active_users_count(spark):
    import datetime as dt
    T = dt.datetime(2024, 1, 1)
    rows = [(u, T + dt.timedelta(days=d, hours=3))
            for d, us in [(0, [1, 2]), (1, [1, 3]), (2, [1, 2])]
            for u in us]
    df = spark.createDataFrame(rows, "uid long, ts timestamp")
    r = kql(
        df,
        "t | evaluate active_users_count(uid, ts, 1d, 3d, 2)"
        " | order by ts asc",
    ).collect()
    assert [(x.ts.day, x.dcount_values) for x in r] == [
        (2, 1), (3, 2), (4, 1)]
    with pytest.raises(KqlError, match="MinActivePeriods"):
        kql(df, "t | evaluate active_users_count(uid, ts, 1d, 3d, 9)")


def test_bit_functions(spark):
    r = kql(
        spark.range(1).selectExpr("13 as v"),
        "t | project a = binary_and(v, 12), o = binary_or(v, 2),"
        " x = binary_xor(v, 9), n = binary_not(v),"
        " sl = binary_shift_left(v, 3), sr = binary_shift_right(v, 1),"
        " bc = bitset_count_ones(v)",
    ).collect()[0]
    assert tuple(r) == (12, 15, 4, -14, 104, 6, 3)


def test_graph_shortest_paths(spark):
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 5.0),
         ("c", "d", 4.0), ("b", "d", 9.0)],
        "s string, t string, w double",
    )
    r = kql(
        edges,
        "e | make-graph s --> t"
        " | graph-shortest-paths (p)-[e*1..3]->(q)"
        " where p.node_id == 'a'"
        " project q = q.node_id, hops = array_length(map(e, e.w)),"
        " tot = array_sum(map(e, e.w))",
    ).collect()
    assert sorted((x.q, x.hops, x.tot) for x in r) == [
        ("b", 1, 1.0), ("c", 1, 5.0), ("d", 2, 9.0)]
    r2 = kql(
        edges,
        "e | make-graph s --> t"
        " | graph-shortest-paths output=all (p)-[e*1..3]->(q)"
        " where p.node_id == 'a'"
        " project q = q.node_id, tot = array_sum(map(e, e.w))",
    ).collect()
    assert sorted((x.q, x.tot) for x in r2) == [
        ("b", 1.0), ("c", 5.0), ("d", 9.0), ("d", 10.0)]
    with pytest.raises(KqlError, match="variable-length"):
        kql(edges, "e | make-graph s --> t"
            " | graph-shortest-paths (p)-[e]->(q) project q = q.node_id")


def test_evaluate_ipv4_lookup(spark):
    src = spark.createDataFrame(
        [("10.1.2.3",), ("10.2.200.9",), ("10.2.10.9",),
         ("192.168.1.1",), ("8.8.8.8",)], "ip string")
    lut = spark.createDataFrame(
        [("10.0.0.0/8", "corp"), ("10.2.128.0/17", "dmz"),
         ("192.168.0.0/16", "home")], "network string, zone string")
    r = {x.ip: x.zone for x in kql(
        src, "t | evaluate ipv4_lookup(lut, ip, network)",
        tables={"lut": lut}).collect()}
    assert r == {"10.1.2.3": "corp", "10.2.10.9": "corp",
                 "10.2.200.9": "dmz", "192.168.1.1": "home"}
    # return_unmatched=true keeps the miss with NULL enrichment
    r2 = {x.ip: x.zone for x in kql(
        src, "t | evaluate ipv4_lookup(lut, ip, network, true)",
        tables={"lut": lut}).collect()}
    assert r2["8.8.8.8"] is None and len(r2) == 5


def test_series_decompose_forecast(spark):
    # period 2, linear trend + alternating seasonal; train = first 6
    vals = [float(10 * i + (5 if i % 2 == 0 else -5)) for i in range(8)]
    df = spark.createDataFrame([(vals,)], "v array<double>")
    r = kql(
        df,
        "t | extend f = series_decompose_forecast(v, 2, 2)"
        " | project f0 = round(f[0], 6), f6 = round(f[6], 6),"
        " f7 = round(f[7], 6), bad = series_decompose_forecast(v, 0, 2)",
    ).collect()[0]
    # phase medians both 25; deseason slope 160/17.5, icept -slope*2.5
    sl = 160 / 17.5
    assert r.f0 == round(25 - sl * 2.5, 6)
    assert r.f6 == round(25 - sl * 2.5 + sl * 6, 6)
    assert r.f7 == round(25 - sl * 2.5 + sl * 7, 6)
    assert r.bad is None          # non-positive period → NULL


def test_parse_csv_property_vs_python_csv(spark):
    """parse_csv must agree with Python's csv module on quoting edge
    cases — commas/quotes/doubled quotes inside fields. All cases ride
    ONE DataFrame (one Spark job), lines built by csv.writer."""
    import csv
    import io
    import random

    rng = random.Random(42)
    alphabet = ['a', 'b', ',', '"', ' ', 'x,y', '""', 'q"r', '']
    cases = []
    for i in range(80):
        fields = [
            "".join(rng.choices(alphabet, k=rng.randrange(0, 4)))
            for _ in range(rng.randrange(1, 5))
        ]
        buf = io.StringIO()
        csv.writer(buf, lineterminator="").writerow(fields)
        cases.append((i, buf.getvalue(), fields))
    df = spark.createDataFrame(
        [(i, line) for i, line, _ in cases], "i long, line string")
    got = {
        r.i: list(r.c)
        for r in kql(df, "T | extend c = parse_csv(line)").collect()
    }
    for i, _line, fields in cases:
        assert got[i] == fields, (i, _line, got[i], fields)


def test_array_split_property_vs_python(spark):
    """array_split vs the Python reference (normalize indices, clamp,
    empty inverted segments) — 100 random cases in one job."""
    import random

    rng = random.Random(7)
    cases = []
    for i in range(100):
        n = rng.randrange(0, 8)
        arr = [rng.randrange(100) for _ in range(n)]
        idxs = [rng.randrange(-10, 10)
                for _ in range(rng.randrange(1, 4))]
        cases.append((i, arr, idxs))

    def ref(arr, idxs):
        n = len(arr)
        bounds = [0] + [
            max(n + i, 0) if i < 0 else min(i, n) for i in idxs
        ] + [n]
        return [
            arr[bounds[j]:bounds[j + 1]]
            if bounds[j + 1] > bounds[j] else []
            for j in range(len(bounds) - 1)
        ]

    df = spark.createDataFrame(
        [(i, a, ix) for i, a, ix in cases],
        "i long, arr array<long>, idxs array<long>")
    got = {
        r.i: [list(seg) for seg in r.s]
        for r in kql(df, "T | extend s = array_split(arr, idxs)")
        .collect()
    }
    for i, arr, idxs in cases:
        assert got[i] == ref(arr, idxs), (i, arr, idxs, got[i])


def test_scalar_range_property_vs_python(spark):
    """scalar range() vs the Python reference (n = floor((stop−start)/
    step)+1, inclusive stop, empty on inverted span) — 150 random
    dyadic-valued cases in one job, so float arithmetic is exact on
    both sides."""
    import math
    import random

    rng = random.Random(11)
    steps = [1.0, 0.5, 2.0, 3.0, -1.0, -0.5, -2.0]
    cases = []
    for i in range(150):
        start = rng.randrange(-20, 21) / 2.0
        stop = rng.randrange(-20, 21) / 2.0
        step = rng.choice(steps)
        cases.append((i, start, stop, step))

    def ref(start, stop, step):
        n = math.floor((stop - start) / step) + 1
        return [start + j * step for j in range(n)] if n > 0 else []

    df = spark.createDataFrame(
        cases, "i long, a double, b double, s double")
    got = {r.i: r.r for r in
           kql(df, "T | project i, r = range(a, b, s)").collect()}
    for i, start, stop, step in cases:
        assert got[i] == ref(start, stop, step), (
            i, start, stop, step, got[i])


def test_verbatim_strings(spark):
    """@"…" verbatim literals: backslashes are literal characters, no
    escape processing (Kusto string literals doc). The lexer normalizes
    them to ordinary escaped tokens, so they work anywhere a string
    does — including regex args, where they remove the double-escaping
    burden."""
    df = spark.createDataFrame([("a.b", r"c:\dir")], "s string, p string")
    r = kql(df, r'T | project m = extract(@"(\w+)\.(\w+)", 2, s),'
                r' lit = @"x\ny", eq = iff(p == @"c:\dir", 1, 0)'
    ).collect()[0]
    assert r.m == "b"
    assert r.lit == "x\\ny"  # two chars backslash-n, not a newline
    assert r.eq == 1


def test_replace_regex_and_regex_quote(spark):
    df = spark.createDataFrame([("ab12cd34",)], "s string")
    r = kql(df, r'T | project a = replace_regex(s, @"\d+", "#"),'
                r' b = replace_regex(s, @"(\d+)", @"<\1>"),'
                r' c = regex_quote("a.b*c|d"),'
                r' d = replace_regex("x$y", @"\$", "_")').collect()[0]
    assert r.a == "ab#cd#"
    assert r.b == "ab<12>cd<34>"
    assert r.c == r"a\.b\*c\|d"
    assert r.d == "x_y"


def test_make_timespan_and_isascii(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, 'T | project a = tostring(make_timespan(1, 30)),'
                ' b = tostring(make_timespan(2, 1, 30, 15.5)),'
                ' c = isascii("hello"), d = isascii("héllo"),'
                ' e = isascii("")').collect()[0]
    assert "01:30:00" in r.a
    assert "01:30:15.5" in r.b and r.b.startswith("INTERVAL '2 ")
    assert r.c is True and r.d is False and r.e is True


def test_base64_array_roundtrip(spark):
    df = spark.createDataFrame(
        [("hello",), ("",), (None,)], "s string")
    rows = kql(
        df,
        "T | extend b = base64_encode_tostring(s)"
        " | extend a = base64_decode_toarray(b)"
        " | project s, a, rt = base64_encode_fromarray(a)",
    ).collect()
    got = {r.s: (r.a, r.rt) for r in rows}
    assert got["hello"][0] == [104, 101, 108, 108, 111]
    assert got["hello"][1] == "aGVsbG8="
    assert got[""][0] == []
    assert got[None] == (None, None)
    # non-UTF8 byte values survive the array round-trip
    r = kql(df.limit(1), 'T | project a = base64_decode_toarray("/w==")'
    ).collect()[0]
    assert r.a == [255]


def test_ipv4_compare(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, 'T | project a = ipv4_compare("192.168.1.5", "192.168.1.99"),'
                ' b = ipv4_compare("192.168.1.5", "192.168.1.99", 24),'
                ' c = ipv4_compare("10.0.0.2", "10.0.0.1"),'
                ' d = ipv4_compare("1.2.3.4", "1.2.3.4"),'
                ' e = ipv4_compare("bogus", "1.2.3.4")').collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (-1, 0, 1, 0, None)


def test_covariance_family(spark):
    df = spark.createDataFrame(
        [(1, 3.0, 5.0), (2, 4.0, 1.0), (3, 5.0, 9.0)],
        "id long, x double, y double")
    r = kql(df, "T | summarize cov = covariance(x, y),"
                " covp = covariancep(x, y),"
                " ci = covarianceif(x, y, id < 3),"
                " cpi = covariancepif(x, y, id < 3)").collect()[0]
    assert abs(r.cov - 2.0) < 1e-12
    assert abs(r.covp - 4.0 / 3.0) < 1e-12
    assert abs(r.ci - (-2.0)) < 1e-12
    assert abs(r.cpi - (-1.0)) < 1e-12


def test_count_distinct_and_list_with_nulls(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "a")], "id long, s string")
    r = kql(df, "T | summarize cd = count_distinct(s),"
                " cdi = count_distinctif(s, id > 1),"
                " ln = make_list_with_nulls(s),"
                " l = make_list(s)").collect()[0]
    assert r.cd == 2 and r.cdi == 2
    assert sorted(r.l) == ["a", "a", "b"]          # NULL dropped
    assert len(r.ln) == 4 and None in r.ln         # NULL kept


def test_column_ifexists(spark):
    df = spark.createDataFrame([(7, "x")], "k long, s string")
    r = kql(df, 'T | extend a = column_ifexists("k", 0),'
                ' b = column_ifexists("nope", k * 2)'
                ' | project a, b,'
                ' c = column_ifexists(s, "fallback")').collect()[0]
    assert r.a == 7 and r.b == 14 and r.c == "x"


def test_ipv6_parse_property(spark):
    """parse_ipv6 vs Python's ipaddress module over generated forms:
    every valid text form (full, compressed at random positions,
    IPv4-embedded, bare IPv4) plus mangled invalids — one Spark job."""
    import ipaddress
    import random

    rng = random.Random(42)
    cases = []
    for _ in range(120):
        groups = [rng.randrange(65536) for _ in range(8)]
        addr = ipaddress.IPv6Address(
            int.from_bytes(
                b"".join(g.to_bytes(2, "big") for g in groups), "big"))
        style = rng.randrange(4)
        if style == 0:
            cases.append(addr.exploded)
        elif style == 1:
            cases.append(addr.compressed)
        elif style == 2:
            cases.append(addr.exploded.upper())
        else:
            # random zero-run compression via a zeroed middle
            z = [g if i < 2 or i > 5 else 0
                 for i, g in enumerate(groups)]
            a2 = ipaddress.IPv6Address(int.from_bytes(
                b"".join(g.to_bytes(2, "big") for g in z), "big"))
            cases.append(a2.compressed)
    for _ in range(30):
        cases.append(
            f"{rng.randrange(256)}.{rng.randrange(256)}"
            f".{rng.randrange(256)}.{rng.randrange(256)}")
    cases += ["1:::2", "xyz", "1:2:3:4:5:6:7:8:9", "12345::1",
              ":::", "1.2.3.4.5", "::1::", "abcd:ef"]

    def expected(s):
        try:
            a = ipaddress.ip_address(s)
        except ValueError:
            return None
        if a.version == 4:
            a = ipaddress.IPv6Address("::ffff:" + s)
        return a.exploded.lower()

    df = spark.createDataFrame([(c,) for c in set(cases)], "ip string")
    got = {r.ip: r.c for r in kql(
        df, "T | project ip, c = parse_ipv6(ip)").collect()}
    for s in set(cases):
        assert got[s] == expected(s), (s, got[s], expected(s))


def test_ipv6_compare_and_match(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, 'T | project'
            ' a = ipv6_compare("2001:db8::1", "2001:db8::2"),'
            ' b = ipv6_compare("2001:db8::2", "2001:db8::1"),'
            ' c = ipv6_compare("2001:db8::1", "2001:0db8::0001"),'
            ' d = ipv6_compare("2001:db8::1", "2001:db8:0:0:1::", 64),'
            ' e = ipv6_compare("192.168.1.1", "::ffff:c0a8:0101"),'
            ' f = ipv6_compare("bogus", "::1")').collect()[0]
    assert (r.a, r.b, r.c, r.d, r.e) == (-1, 1, 0, 0, 0)
    assert r.f is None
    m = kql(df, 'T | project'
            ' a = ipv6_is_match("2001:db8::5/64", "2001:db8::99"),'
            ' b = ipv6_is_match("2001:db8::5", "2001:db9::5", 48),'
            ' c = ipv6_is_match("::ffff:1.2.3.4", "1.2.3.4"),'
            ' d = ipv6_is_match("fe80::1", "fe80::2")').collect()[0]
    assert (m.a, m.b, m.c, m.d) == (True, False, True, False)


def test_gamma_loggamma_erf_property(spark):
    """gamma/loggamma/erf/erfc vs Python's math module over a generated
    grid (positive reals, negative non-integers, half-integers) — one
    Spark job. Lanczos is ~1e-13 relative; erf (A&S 7.1.26) 1.5e-7 abs."""
    import math
    import random

    rng = random.Random(7)
    xs = ([rng.uniform(0.01, 30) for _ in range(40)]
          + [rng.uniform(-10, -0.01) for _ in range(30)]
          + [0.5, 1.0, 2.0, 10.5, -0.5, -1.5, -2.5, 1e-3])
    xs = [x for x in xs if abs(x - round(x)) > 1e-6 or x > 0]
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    rows = kql(df, "T | project x, g = gamma(x), lg = loggamma(x),"
                   " e = erf(x), ec = erfc(x)").collect()
    for r in rows:
        if r.x > 0:
            assert math.isclose(r.g, math.gamma(r.x), rel_tol=1e-9), r
        else:
            assert math.isclose(r.g, math.gamma(r.x), rel_tol=1e-7), r
        assert math.isclose(r.lg, math.lgamma(r.x),
                            rel_tol=1e-7, abs_tol=1e-9), r
        assert abs(r.e - math.erf(r.x)) < 2e-7, r
        assert abs(r.ec - math.erfc(r.x)) < 4e-7, r


def test_gamma_poles_null(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, "T | project a = gamma(0), b = gamma(-3),"
                " c = loggamma(-1), d = loggamma(0)").collect()[0]
    assert (r.a, r.b, r.c, r.d) == (None, None, None, None)


def test_scalar_suite8_misc(spark):
    import hashlib
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, 'T | project'
            ' h1 = hash_sha1("abc"), h2 = hash_md5("abc"),'
            ' ss = string_size("héllo"), u8 = isutf8("x"),'
            ' un = isutf8(tostring(parse_json("null"))),'
            ' t1 = unixtime_milliseconds_todatetime(1700000000123),'
            ' t2 = unixtime_microseconds_todatetime(1700000000123456),'
            ' t3 = unixtime_nanoseconds_todatetime(1700000000123456789),'
            ' f1 = format_ipv4_mask("192.168.1.77", 24),'
            ' f2 = format_ipv4_mask("10.0.0.1", 40),'
            ' r1 = ipv4_is_in_any_range("10.1.2.3", "10.0.0.0/8", "192.168.0.0/16"),'
            ' r2 = ipv4_is_in_any_range("11.1.2.3", "10.0.0.0/8", "192.168.0.0/16"),'
            ' sj = dynamic_to_json(parse_json(\'{"b":1,"a":2}\')),'
            ' td = tostring(todynamic("[1,2,3]"))').collect()[0]
    assert r.h1 == hashlib.sha1(b"abc").hexdigest()
    assert r.h2 == hashlib.md5(b"abc").hexdigest()
    assert r.ss == 6 and r.u8
    assert str(r.t1) == "2023-11-14 22:13:20.123000"
    assert str(r.t2) == "2023-11-14 22:13:20.123456"
    assert str(r.t3) == "2023-11-14 22:13:20.123456"
    assert r.f1 == "192.168.1.0/24" and r.f2 is None
    assert r.r1 is True and r.r2 is False
    assert r.sj == '{"a":2,"b":1}' and r.td == "[1,2,3]"


def test_series_trig(spark):
    import math
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, "T | extend a = pack_array(0.0, 0.5, 1.0)"
                " | project s = series_sin(a), c = series_cos(a),"
                " t = series_tan(a), i = series_asin(pack_array(0.5, 2.0)),"
                " o = series_acos(pack_array(1.0, -2.0)),"
                " n = series_atan(a)").collect()[0]
    for i, x in enumerate([0.0, 0.5, 1.0]):
        assert math.isclose(r.s[i], math.sin(x), abs_tol=1e-12)
        assert math.isclose(r.c[i], math.cos(x), abs_tol=1e-12)
        assert math.isclose(r.t[i], math.tan(x), abs_tol=1e-12)
        assert math.isclose(r.n[i], math.atan(x), abs_tol=1e-12)
    assert math.isclose(r.i[0], math.asin(0.5)) and r.i[1] is None
    assert math.isclose(r.o[0], 0.0, abs_tol=1e-12) and r.o[1] is None


def test_new_guid_and_hash_many(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], "i int")
    r = kql(df, "T | extend g = new_guid(), h = hash_many(i, 'x')"
                " | summarize n = count(), dg = count_distinct(g),"
                " dh = count_distinct(h)").collect()[0]
    assert r.n == r.dg == r.dh == 500


def test_round5_misc_scalars(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, 'T | project'
            ' c = round(cot(1.0), 6), d = todecimal("2.5") * 2,'
            ' g1 = toguid("0AC9328B-9C20-49fb-9A87-2A2D32ce9751"),'
            ' g2 = toguid("not-a-guid"),'
            ' ej = extract_json("$.a.b", \'{"a":{"b":7}}\'),'
            ' ejl = extract_json("$.a.b", \'{"a":{"b":7}}\', typeof(long)),'
            ' ejr = extract_json("$.x", \'{"x":2.5}\', typeof(real)),'
            ' rs = replace_strings("A-B-C",'
            ' pack_array("-", "B"), pack_array("_", "x")),'
            ' rn = replace_strings("keep",'
            ' pack_array("e"), pack_array(tostring(parse_json("null")))),'
            ' u = to_utf8("hé"), m1 = make_string(72, 105),'
            ' m2 = make_string(to_utf8("héllo"))').collect()[0]
    import math
    assert math.isclose(r.c, round(1 / math.tan(1.0), 6))
    assert float(r.d) == 5.0
    assert r.g1 == "0ac9328b-9c20-49fb-9a87-2a2d32ce9751" and r.g2 is None
    assert r.ej == "7" and r.ejl == 7 and r.ejr == 2.5
    assert r.rs == "A_x_C"
    assert r.rn == "keep"  # null rewrite pair skipped, not nulled
    assert list(r.u) == [104, 233]
    assert r.m1 == "Hi" and r.m2 == "héllo"


def test_round5_datetime_tz(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, 'T | project'
            ' a = datetime_utc_to_local(datetime(2024-06-15 12:00:00),'
            ' "America/New_York"),'
            ' b = datetime_local_to_utc(datetime(2024-06-15 08:00:00),'
            ' "America/New_York"),'
            ' c = datetime_utc_to_local(datetime(2024-01-15 12:00:00),'
            ' "America/New_York"),'
            ' d = datetime_utc_to_local(datetime(2024-06-15 12:00:00),'
            ' "Asia/Kolkata")').collect()[0]
    assert str(r.a) == "2024-06-15 08:00:00"    # EDT
    assert str(r.b) == "2024-06-15 12:00:00"
    assert str(r.c) == "2024-01-15 07:00:00"    # EST (winter)
    assert str(r.d) == "2024-06-15 17:30:00"    # half-hour zone


def test_round5_rand_and_estimate(spark):
    df = spark.createDataFrame([(i,) for i in range(300)], "i int")
    r = kql(df, "T | extend r1 = rand(), r2 = rand(10)"
                " | summarize n = count(),"
                " ok1 = countif(r1 >= 0.0 and r1 < 1.0),"
                " ok2 = countif(r2 >= 0.0 and r2 <= 9.0),"
                " whole = countif(r2 == floor(r2, 1)),"
                " d1 = count_distinct(r1),"
                " ed = min(estimate_data_size(i))").collect()[0]
    assert r.n == r.ok1 == r.ok2 == r.whole == 300
    assert r.d1 > 290 and r.ed > 0


def test_series_stats_dynamic(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, "T | extend s = series_stats_dynamic("
                "pack_array(3.0, 1.0, 4.0, 1.0, 5.0))"
                " | project mn = todouble(s.min), mni = tolong(s.min_idx),"
                " mx = todouble(s.max), mxi = tolong(s.max_idx),"
                " av = todouble(s.avg), sm = todouble(s.sum),"
                " ln = tolong(s.len), vr = todouble(s.variance)"
                ).collect()[0]
    import statistics
    xs = [3.0, 1.0, 4.0, 1.0, 5.0]
    assert (r.mn, r.mni, r.mx, r.mxi) == (1.0, 1, 5.0, 4)
    assert r.av == sum(xs) / 5 and r.sm == sum(xs) and r.ln == 5
    import math
    assert math.isclose(r.vr, statistics.variance(xs))


def _betainc_cf_ref(a, b, x):
    """Independent reference: NR continued fraction (different
    algorithm family from the engine's 2F1 series)."""
    import math
    if x <= 0:
        return 0.0
    if x >= 1:
        return 1.0
    lbeta = (math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
             + a * math.log(x) + b * math.log(1 - x))

    def cf(a, b, x):
        fpmin = 1e-300
        qab, qap, qam = a + b, a + 1, a - 1
        c, d = 1.0, 1 - qab * x / qap
        if abs(d) < fpmin:
            d = fpmin
        d = 1 / d
        h = d
        for m in range(1, 200):
            m2 = 2 * m
            aa = m * (b - m) * x / ((qam + m2) * (a + m2))
            d = 1 + aa * d
            if abs(d) < fpmin:
                d = fpmin
            c = 1 + aa / c
            if abs(c) < fpmin:
                c = fpmin
            d = 1 / d
            h *= d * c
            aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
            d = 1 + aa * d
            if abs(d) < fpmin:
                d = fpmin
            c = 1 + aa / c
            if abs(c) < fpmin:
                c = fpmin
            d = 1 / d
            dl = d * c
            h *= dl
            if abs(dl - 1) < 3e-16:
                break
        return h

    if x < (a + 1) / (a + b + 2):
        return math.exp(lbeta) * cf(a, b, x) / a
    return 1 - math.exp(
        math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
        + b * math.log(1 - x) + a * math.log(x)) * cf(b, a, 1 - x) / b


def test_beta_cdf_vs_reference(spark):
    import math
    import random
    rng = random.Random(11)
    cases = [(rng.uniform(0.02, 0.98), rng.uniform(0.2, 20),
              rng.uniform(0.2, 20)) for _ in range(60)]
    cases += [(0.5, 2.0, 2.0), (0.25, 2.0, 3.0), (0.0, 3.0, 4.0),
              (1.0, 3.0, 4.0), (0.999, 0.5, 0.5), (0.001, 0.5, 0.5)]
    df = spark.createDataFrame(cases, "x double, a double, b double")
    rows = kql(df, "T | project x, a, b, c = beta_cdf(x, a, b),"
                   " p = beta_pdf(x, a, b)").collect()
    for r in rows:
        want = _betainc_cf_ref(r.a, r.b, r.x)
        assert math.isclose(r.c, want, rel_tol=1e-9, abs_tol=1e-12), r
        if 0 < r.x < 1:
            wpdf = math.exp(
                (r.a - 1) * math.log(r.x) + (r.b - 1) * math.log(1 - r.x)
                + math.lgamma(r.a + r.b) - math.lgamma(r.a)
                - math.lgamma(r.b))
            assert math.isclose(r.p, wpdf, rel_tol=1e-9), r


def test_beta_inv_round_trip(spark):
    import math
    import random
    rng = random.Random(13)
    cases = [(rng.uniform(0.01, 0.99), rng.uniform(0.3, 15),
              rng.uniform(0.3, 15)) for _ in range(40)]
    cases += [(0.0, 2.0, 3.0), (1.0, 2.0, 3.0), (0.5, 1.0, 1.0)]
    df = spark.createDataFrame(cases, "p double, a double, b double")
    rows = kql(df, "T | project p, a, b, x = beta_inv(p, a, b)").collect()
    for r in rows:
        # bisection converges in x-space: |x̂ − x*| ≤ 2⁻⁴¹
        want = _betainc_cf_ref(r.a, r.b, r.x) if 0 < r.x < 1 else r.x
        assert math.isclose(want, r.p, abs_tol=1e-8), r
    # closed forms: Beta(1,1) → identity, Beta(2,1) → √p
    r = kql(df.limit(1), "T | project i = beta_inv(0.49, 1.0, 1.0),"
            " s = beta_inv(0.49, 2.0, 1.0),"
            " bad = beta_inv(0.5, -1.0, 2.0)").collect()[0]
    assert math.isclose(r.i, 0.49, abs_tol=1e-10)
    assert math.isclose(r.s, 0.7, abs_tol=1e-10)
    assert r.bad is None


def test_base64_guid_pair(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, "T | extend g = '3f2504e0-4f89-11d3-9a0c-0305e82c3301'"
            " | project enc = base64_encode_fromguid(g),"
            " rt = base64_decode_toguid(base64_encode_fromguid(g)),"
            " up = base64_encode_fromguid("
            "'3F2504E0-4F89-11D3-9A0C-0305E82C3301'),"
            " bad = base64_encode_fromguid('not-a-guid'),"
            " short = base64_decode_toguid('YWJj')").collect()[0]
    # known .NET vector: Guid.ToByteArray is mixed-endian
    assert r.enc == "4AQlP4lP0xGaDAMF6CwzAQ=="
    assert r.rt == "3f2504e0-4f89-11d3-9a0c-0305e82c3301"
    assert r.up == r.enc  # case-insensitive input, canonical output
    assert r.bad is None and r.short is None


def test_pack_dictionary_alias(spark):
    df = spark.createDataFrame([(1, "a")], "i int, s string")
    r = kql(df, "T | project d = tostring(pack_dictionary('k', i,"
            " 'v', s)), b = tostring(bag_pack('k', i, 'v', s))"
            ).collect()[0]
    assert r.d == r.b


def test_welch_test(spark):
    import math
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, "T | project"
            " p0 = welch_test(5.0, 4.0, 30, 5.0, 4.0, 30),"
            " p1 = welch_test(10.0, 4.0, 50, 8.0, 9.0, 40),"
            " p2 = welch_test(10.0, 4.0, 50, 9.9, 9.0, 40),"
            " bad = welch_test(1.0, 1.0, 1, 2.0, 1.0, 5)").collect()[0]
    assert r.p0 == 1.0
    # reference p for (10,4,50) vs (8,9,40) via the independent betainc
    se = 4 / 50 + 9 / 40
    t2 = 4 / se
    df_w = se ** 2 / ((4 / 50) ** 2 / 49 + (9 / 40) ** 2 / 39)
    want = _betainc_cf_ref(df_w / 2, 0.5, df_w / (df_w + t2))
    assert math.isclose(r.p1, want, rel_tol=1e-9)
    assert r.p1 < 0.01 < r.p2 < 1.0  # big gap significant, small not
    assert r.bad is None  # n=1 → no variance df


def test_convert_units(spark):
    import math
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, 'T | project'
            ' a = convert_angle(180.0, "Degree", "Radian"),'
            ' l = convert_length(1.0, "Mile", "Kilometer"),'
            ' l2 = convert_length(10000.0, "Meter", "NauticalMile"),'
            ' m = convert_mass(1.0, "Pound", "Gram"),'
            ' s = convert_speed(1.0, "Knot", "KilometerPerHour"),'
            ' e = convert_energy(1.0, "KilowattHour", "Kilojoule"),'
            ' f = convert_force(1.0, "PoundForce", "Newton"),'
            ' v = convert_volume(1.0, "UsGallon", "Liter"),'
            ' t1 = convert_temperature(32.0, "DegreeFahrenheit",'
            ' "DegreeCelsius"),'
            ' t2 = convert_temperature(100.0, "DegreeCelsius", "Kelvin"),'
            ' u = convert_length(1.0, "Cubit", "Meter")').collect()[0]
    assert math.isclose(r.a, math.pi)
    assert math.isclose(r.l, 1.609344)
    assert math.isclose(r.l2, 10000 / 1852)
    assert math.isclose(r.m, 453.59237)
    assert math.isclose(r.s, 1.852)
    assert math.isclose(r.e, 3600.0)
    assert math.isclose(r.f, 4.4482216152605)
    assert math.isclose(r.v, 3.785411784)
    assert abs(r.t1) < 1e-12 and math.isclose(r.t2, 373.15)
    assert r.u is None


def test_series_fft_vs_numpy(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    xs = rng.uniform(-5, 5, 16).round(4).tolist()
    arr = ", ".join(str(v) for v in xs)
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, f"T | extend x = pack_array({arr})"
            " | extend f = series_fft(x)"
            " | extend g = series_ifft(todynamic(tostring(f.re)),"
            " todynamic(tostring(f.im)))"
            " | project re = f.re, im = f.im, rt = g.re").collect()[0]
    import json
    got_re = json.loads(str(r.re))
    got_im = json.loads(str(r.im))
    want = np.fft.fft(np.array(xs))
    assert np.allclose(got_re, want.real, atol=1e-9)
    assert np.allclose(got_im, want.imag, atol=1e-9)
    assert np.allclose(json.loads(str(r.rt)), xs, atol=1e-9)


def _geohash_ref(lon, lat, p):
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    lo, la = [-180.0, 180.0], [-90.0, 90.0]
    even, bit, ch, out = True, 0, 0, ""
    while len(out) < p:
        if even:
            mid = (lo[0] + lo[1]) / 2
            if lon >= mid:
                ch, lo[0] = ch * 2 + 1, mid
            else:
                ch, lo[1] = ch * 2, mid
        else:
            mid = (la[0] + la[1]) / 2
            if lat >= mid:
                ch, la[0] = ch * 2 + 1, mid
            else:
                ch, la[1] = ch * 2, mid
        even = not even
        bit += 1
        if bit == 5:
            out += b32[ch]
            bit, ch = 0, 0
    return out


def test_geohash_vs_reference(spark):
    import random
    rng = random.Random(5)
    pts = [(rng.uniform(-180, 180), rng.uniform(-90, 90))
           for _ in range(50)] + [(0.0, 0.0), (-180.0, -90.0),
                                  (179.999, 89.999), (180.0, 90.0)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    rows = kql(df, "T | project lon, lat,"
                   " g5 = geo_point_to_geohash(lon, lat),"
                   " g9 = geo_point_to_geohash(lon, lat, 9),"
                   " cx = todouble(geo_geohash_to_central_point("
                   "geo_point_to_geohash(lon, lat, 9)).coordinates[0]),"
                   " cy = todouble(geo_geohash_to_central_point("
                   "geo_point_to_geohash(lon, lat, 9)).coordinates[1])"
               ).collect()
    for r in rows:
        assert r.g5 == _geohash_ref(r.lon, r.lat, 5), r
        assert r.g9 == _geohash_ref(r.lon, r.lat, 9), r
        # 9-char cell: ±2.4e-5 lon, ±1.2e-5 lat around the center
        assert abs(r.cx - r.lon) < 360 / 2 ** 22, r
        assert abs(r.cy - r.lat) < 180 / 2 ** 22, r


def test_geohash_invalid(spark):
    df = spark.createDataFrame([(1,)], "i int")
    r = kql(df, 'T | project a = geo_point_to_geohash(200.0, 10.0),'
                ' b = tostring(geo_geohash_to_central_point("a!"))'
            ).collect()[0]
    assert r.a is None and r.b is None


def test_tdigest_composition(spark):
    df = spark.createDataFrame(
        [(i % 3, float(v)) for i, v in enumerate(range(1, 101))]
        + [(0, None)], "g int, v double")
    r = kql(df, "T | summarize p50 = percentile_tdigest(tdigest(v), 50),"
                " p90 = percentile_tdigest(merge_tdigest(tdigest(v)), 90),"
                " rk = rank_tdigest(tdigest(v), 25.0)").collect()[0]
    import statistics
    assert r.p50 == statistics.quantiles(range(1, 101), n=2)[0] == 50.5
    assert abs(r.p90 - 90.1) < 1e-9
    assert abs(r.rk - 25.0) < 1e-9  # 25 of 100 non-null values <= 25

    import pytest
    with pytest.raises(Exception, match="percentile_tdigest"):
        kql(df, "T | summarize p = percentile_tdigest(v, 50)")


def test_has_ipv4_family_token_rules(spark):
    df = spark.createDataFrame(
        [("a 10.0.0.7 b", "ok"),
         ("x10.0.0.7 b", "embedded-left"),
         ("a 10.0.0.7b", "embedded-right"),
         ("a 10.0.0.7.8 b", "five-part-run"),
         ("a 999.0.0.7 b", "bad-octet"),
         ("a 10.0.0 b", "three-part"),
         (None, "null")],
        "t string, tag string")
    rows = kql(
        df,
        "T | project tag, h = has_ipv4(t, '10.0.0.7'),"
        " hp = has_ipv4_prefix(t, '10.0.'),"
        " ha = has_any_ipv4(t, '1.2.3.4', '10.0.0.7')",
    ).collect()
    got = {r.tag: (r.h, r.hp, r.ha) for r in rows}
    assert got["ok"] == (True, True, True)
    # an address embedded in a longer token never matches (Kusto's
    # properly-delimited rule), nor does a 5-part dotted run
    for tag in ("embedded-left", "embedded-right", "five-part-run"):
        assert got[tag] == (False, False, False), tag
    assert got["bad-octet"] == (False, False, False)
    assert got["three-part"] == (False, False, False)
    assert got["null"] == (None, None, None) or got["null"] == (
        False, False, False)


def test_parse_user_agent_families(spark):
    uas = [
        ("Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36"
         " (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
         "Chrome", "124", "Windows"),
        ("Mozilla/5.0 (Windows NT 10.0) AppleWebKit/537.36 (KHTML,"
         " like Gecko) Chrome/124.0.0.0 Safari/537.36 Edg/124.0.1",
         "Edge", "124", "Windows"),
        ("Mozilla/5.0 (X11; Linux x86_64; rv:125.0) Gecko/20100101"
         " Firefox/125.0", "Firefox", "125", "Linux"),
        ("Mozilla/5.0 (iPad; CPU OS 17_4 like Mac OS X)"
         " AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4"
         " Mobile/15E148 Safari/604.1", "Safari", "17", "iOS"),
        ("Mozilla/5.0 (Linux; Android 14; Pixel 8)"
         " AppleWebKit/537.36 (KHTML, like Gecko) Chrome/123.0.0.0"
         " Mobile Safari/537.36", "Chrome", "123", "Android"),
        ("Mozilla/5.0 (Windows NT 10.0; WOW64; Trident/7.0; rv:11.0)"
         " like Gecko", "Internet Explorer", "11", "Windows"),
        ("curl/8.5.0", None, None, None),
    ]
    df = spark.createDataFrame(
        [(u,) for u, *_ in uas], "ua string")
    rows = kql(
        df,
        "T | extend p = parse_user_agent(ua)"
        " | project ua, fam = tostring(p.Browser.Family),"
        " ver = tostring(p.Browser.MajorVersion),"
        " osf = tostring(p.OperatingSystem.Family)",
    ).collect()
    got = {r.ua: (r.fam, r.ver, r.osf) for r in rows}
    for ua, fam, ver, osf in uas:
        assert got[ua] == (fam, ver, osf), ua


def test_compress_codecs_roundtrip_and_degradation(spark):
    df = spark.createDataFrame(
        [("héllo wörld ünïcode",), ("",), (None,)], "t string")
    rows = kql(
        df,
        "T | extend zc = zlib_compress_to_base64_string(t),"
        " gc = gzip_compress_to_base64_string(t)"
        " | project t, zd = zlib_decompress_from_base64_string(zc),"
        " gd = gzip_decompress_from_base64_string(gc),"
        " bad1 = zlib_decompress_from_base64_string('!!!'),"
        " bad2 = gzip_decompress_from_base64_string('AAAA'),"
        " lit = zlib_decompress_from_base64_string("
        "'eJzLL0nNUUgsKsovVyguSCzKBgA02QZB')",
    ).collect()
    for r in rows:
        # decompress ∘ compress == identity (unicode-safe); nulls
        # propagate; malformed/non-deflate input degrades to NULL
        assert r.zd == r.t and r.gd == r.t
        assert r.bad1 is None and r.bad2 is None
        assert r.lit == "otel arrow spark"


def test_stdevif_varianceif(spark):
    import statistics
    vals = [float(v) for v in range(10)]
    df = spark.createDataFrame(
        [(v, int(v) % 2 == 0) for v in vals], "v double, p boolean")
    r = kql(df, "T | summarize s = stdevif(v, p),"
                " va = varianceif(v, p),"
                " sn = stdevif(v, v < 0)").collect()[0]
    evens = [v for v in vals if int(v) % 2 == 0]
    assert abs(r.s - statistics.stdev(evens)) < 1e-9
    assert abs(r.va - statistics.variance(evens)) < 1e-9
    assert r.sn is None  # empty predicate set, like stdev of no rows


def test_row_cumsum_restart(spark):
    from otel_arrow_spark.operators.kql_parser import kql

    # negative terms exercise the non-monotone closed form (base is the
    # LATEST restart row's prefix, not a max); restart on the first
    # row, mid-stream, and on consecutive rows all reset correctly,
    # and the restart row's own term is included (Kusto semantics)
    df = spark.createDataFrame(
        [
            ("a", 1, 10, False),
            ("a", 2, -5, False),
            ("a", 3, 7, True),    # reset -> 7
            ("a", 4, 1, False),   # 8
            ("a", 5, 2, True),    # reset -> 2
            ("a", 6, 3, True),    # consecutive reset -> 3
            ("b", 1, 4, True),    # first-row reset -> 4
            ("b", 2, 6, False),   # 10
            ("c", 1, 5, False),   # 5
            ("c", 2, None, True),  # reset on a null term -> 0
            ("c", 3, 3, False),   # 3
        ],
        "g string, idx int, v long, rst boolean",
    )
    out = kql(
        df,
        "T | sort by g asc, idx asc | serialize by g"
        " | extend cum = row_cumsum(v, rst)"
        " | project g, idx, cum",
    )
    rows = {(r.g, r.idx): r.cum for r in out.collect()}
    assert rows == {
        ("a", 1): 10, ("a", 2): 5, ("a", 3): 7, ("a", 4): 8,
        ("a", 5): 2, ("a", 6): 3, ("b", 1): 4, ("b", 2): 10,
        ("c", 1): 5, ("c", 2): 0, ("c", 3): 3,
    }


def test_series_seasonal_auto_detect(spark):
    from otel_arrow_spark.operators.kql_parser import kql

    # period-4 integer pattern repeated 4x -> detection fires at lag 4
    # and the seasonal component reproduces the pattern exactly;
    # a flat noise-free constant series has zero-variance windows
    # (pearson undefined -> no period) -> zero fallback
    df = spark.createDataFrame(
        [
            ("per", [1.0, 5.0, 2.0, 8.0] * 4),
            ("flat", [3.0] * 16),
        ],
        "g string, s array<double>",
    )
    out = {r.g: r for r in kql(
        df,
        "T | extend se = series_seasonal(s, -1), se1 = series_seasonal(s)"
        " | project g, se, se1",
    ).collect()}
    assert out["per"].se == [1.0, 5.0, 2.0, 8.0] * 4
    assert out["flat"].se == [0.0] * 16
    # 1-arg form defaults to -1 (Kusto default)
    assert out["per"].se1 == out["per"].se
    # explicit non-positive period still returns NULL (not zeros)
    out2 = {r.g: r for r in kql(
        df, "T | extend se = series_seasonal(s, 0) | project g, se"
    ).collect()}
    assert out2["per"].se is None


def test_sliding_window_counts_prestart_seed(spark):
    # a record in the pre-start lookback tail (23:30, within the 2h
    # lookback of start) seeds bin 0 but emits no pre-start bin
    df = spark.createDataFrame(
        [("D", "2023-12-31 23:30:00"), ("E", "2023-12-31 20:00:00"),
         ("A", "2024-01-01 00:30:00")],
        "uid string, t string",
    ).select("uid", F.col("t").cast("timestamp_ntz").alias("t"))
    got = kql(
        df,
        "T | evaluate sliding_window_counts(uid, t,"
        " datetime(2024-01-01 00:00:00), datetime(2024-01-01 02:00:00),"
        " 2h, 1h) | order by t asc")
    rows = [(r.t.hour, r.count_, r.dcount) for r in got.collect()]
    # E (20:00) is beyond the lookback tail -> never contributes;
    # D (23:30) inherits into bin 0 only (k=2: bins -1 and 0)
    assert rows == [(0, 2, 2), (1, 1, 1), (2, 0, 0)]


def test_new_activity_metrics_dims(spark):
    # two dims: within "x", u1 cohorts at day 0 and is retained day 1;
    # u2 is new at day 1. Within "y", u1 cohorts independently at
    # day 1 (per-dim first activity, not global)
    df = spark.createDataFrame(
        [("u1", "x", "2024-01-01 01:00:00"),
         ("u1", "x", "2024-01-02 01:00:00"),
         ("u2", "x", "2024-01-02 02:00:00"),
         ("u1", "y", "2024-01-02 03:00:00")],
        "uid string, g string, t string",
    ).select("uid", "g", F.col("t").cast("timestamp_ntz").alias("t"))
    got = kql(
        df,
        "T | evaluate new_activity_metrics(uid, t,"
        " datetime(2024-01-01 00:00:00), datetime(2024-01-03 00:00:00),"
        " 1d, g) | order by from_t asc, to_t asc, g asc")
    rows = [(r.from_t.day, r.to_t.day, r.g, r.new_dcount,
             r.retained_dcount, r.retention_rate)
            for r in got.collect()]
    assert rows == [
        (1, 1, "x", 1, 1, 1.0),   # u1 cohort day1 in x
        (1, 1, "y", 0, 0, None),  # y has no day-1 cohort
        (1, 2, "x", 1, 1, 1.0),   # u1 retained day2 in x
        (1, 2, "y", 0, 0, None),
        (1, 3, "x", 1, 0, 0.0),
        (1, 3, "y", 0, 0, None),
        (2, 2, "x", 1, 1, 1.0),   # u2 new day2 in x
        (2, 2, "y", 1, 1, 1.0),   # u1 cohorts at day2 in y
        (2, 3, "x", 1, 0, 0.0),
        (2, 3, "y", 1, 0, 0.0),
        (3, 3, "x", 0, 0, None),
        (3, 3, "y", 0, 0, None),
    ]


def test_row_cumsum_restart_property_vs_python(spark):
    """row_cumsum(x, restart) vs the Python reference (running sum
    resetting AT each restart row, the restart row's term included) —
    120 random rows across 6 groups with negative terms and random
    restart flags, one job."""
    import random

    rng = random.Random(23)
    rows = []
    for g in range(6):
        for i in range(20):
            rows.append((f"g{g}", i, rng.randrange(-50, 51),
                         rng.random() < 0.25))
    df = spark.createDataFrame(rows, "g string, i int, v long, r boolean")
    got = {(x.g, x.i): x.c for x in kql(
        df,
        "T | sort by g asc, i asc | serialize by g"
        " | extend c = row_cumsum(v, r) | project g, i, c",
    ).collect()}
    by_g: dict[str, list] = {}
    for g, i, v, r in rows:
        by_g.setdefault(g, []).append((i, v, r))
    for g, seq in by_g.items():
        acc = 0
        for i, v, r in sorted(seq):
            acc = v if r else acc + v
            assert got[(g, i)] == acc, (g, i, acc, got[(g, i)])



def test_ipv6_lookup_non_aligned_and_unmatched(spark):
    """ipv6_lookup with NON-group-aligned masks (/36, /104), compressed
    and embedded-IPv4 forms, longest-mask-wins, and the
    return_unmatched flag (the gate query covers the group-aligned
    prefix shapes the oracle can mirror)."""
    from otel_arrow_spark.operators.kql_parser import kql

    src = spark.createDataFrame(
        [("2001:db8:1000::1",), ("2001:db8:1fff::2",),
         ("2001:db8:2000::3",), ("::ffff:10.0.0.1",), ("fe80::9",)],
        "ip string")
    nets = spark.createDataFrame(
        [("2001:db8:1000::/36", "A"), ("2001:db8::/32", "B"),
         ("::ffff:10.0.0.0/104", "V4")],
        "network string, zone string")
    got = {r.ip: r.zone for r in kql(
        src, "t | evaluate ipv6_lookup(nets, ip, network)",
        tables={"nets": nets}).collect()}
    # /36 keeps the top nibble of group 3: 1000-1fff -> A, 2000 -> B
    assert got == {
        "2001:db8:1000::1": "A", "2001:db8:1fff::2": "A",
        "2001:db8:2000::3": "B", "::ffff:10.0.0.1": "V4",
    }  # fe80::9 matches nothing -> dropped (inner)
    got2 = {r.ip: r.zone for r in kql(
        src, "t | evaluate ipv6_lookup(nets, ip, network, true)",
        tables={"nets": nets}).collect()}
    assert got2["fe80::9"] is None and len(got2) == 5


def test_geo_distance_point_to_line(spark):
    import math

    from otel_arrow_spark.operators.kql_parser import kql

    R = 6371010.0
    rad = math.pi / 180.0

    def hav(ax, ay, bx, by):
        a = (math.sin((by - ay) * rad / 2) ** 2
             + math.cos(ay * rad) * math.cos(by * rad)
             * math.sin((bx - ax) * rad / 2) ** 2)
        return 2 * R * math.asin(math.sqrt(a))

    def brg(ax, ay, bx, by):
        dl = (bx - ax) * rad
        return math.atan2(
            math.sin(dl) * math.cos(by * rad),
            math.cos(ay * rad) * math.sin(by * rad)
            - math.sin(ay * rad) * math.cos(by * rad) * math.cos(dl))

    def seg(px, py, x1, y1, x2, y2):
        d13, d23 = hav(x1, y1, px, py), hav(x2, y2, px, py)
        d12 = hav(x1, y1, x2, y2)
        if d12 == 0:
            return min(d13, d23)
        dxt = math.asin(math.sin(d13 / R)
                        * math.sin(brg(x1, y1, px, py)
                                   - brg(x1, y1, x2, y2)))
        ratio = max(min(math.cos(d13 / R) / math.cos(dxt), 1.0), -1.0)
        if (math.cos(brg(x1, y1, px, py) - brg(x1, y1, x2, y2)) >= 0
                and math.acos(ratio) <= d12 / R):
            return abs(dxt) * R
        return min(d13, d23)

    line = [[0.0, 0.0], [10.0, 0.0], [10.0, 10.0]]
    pts = [(5.0, 0.0),    # on the first segment -> 0
           (20.0, 0.0),   # past the corner -> endpoint (10, 0)
           (12.0, 5.0),   # abeam the meridian segment -> cross-track
           (-3.0, 4.0)]   # before the start -> endpoint (0, 0)
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "i long, px double, py double")
    got = {r.i: r.d for r in kql(
        df,
        "T | extend d = geo_distance_point_to_line(px, py,"
        " parse_json('{\"type\":\"LineString\",\"coordinates\":"
        "[[0.0,0.0],[10.0,0.0],[10.0,10.0]]}'))"
        " | project i, d").collect()}
    for i, (px, py) in enumerate(pts):
        exp = min(seg(px, py, *a, *b) for a, b in zip(line, line[1:]))
        assert abs(got[i] - exp) < 0.5, (i, got[i], exp)
    assert got[0] < 0.5  # on-line point is ~zero
    # fewer than 2 vertices -> NULL
    r = kql(df.limit(1),
            "T | project d = geo_distance_point_to_line(px, py,"
            " parse_json('{\"type\":\"LineString\",\"coordinates\":"
            "[[1.0,1.0]]}'))").collect()[0]
    assert r.d is None


def test_array_sort_nulls_last(spark):
    """Kusto array_sort_asc/desc place null elements LAST in both
    directions (nulls_last defaults true) — Spark's sort_array(asc)
    would put them first."""
    from otel_arrow_spark.operators.kql_parser import kql

    df = spark.createDataFrame(
        [([3.0, None, 1.0, 2.0],)], "a array<double>")
    r = kql(df, "T | project up = array_sort_asc(a),"
                " dn = array_sort_desc(a)").collect()[0]
    assert r.up == [1.0, 2.0, 3.0, None]
    assert r.dn == [3.0, 2.0, 1.0, None]


def test_split_plain_delimiter_and_requested_index(spark):
    """Kusto split: the delimiter is a PLAIN string (a '.' or '|'
    splits literally, never as a regex), trailing empties are kept,
    and the 3-arg requestedIndex form returns a single-element array
    (empty array when out of range, negative index included)."""
    from otel_arrow_spark.operators.kql_parser import kql

    df = spark.createDataFrame([("a.b.c", "x||y|", "1+2=3")],
                               "s1 string, s2 string, s3 string")
    r = kql(
        df,
        'T | project p1 = split(s1, "."), p2 = split(s2, "|"),'
        ' p3 = split(s3, "+"), one = split(s1, ".", 1),'
        ' oob = split(s1, ".", 9), emp = split(s2, "|", 1),'
        ' neg = split(s1, ".", -1)',
    ).collect()[0]
    assert r.p1 == ["a", "b", "c"]
    assert r.p2 == ["x", "", "y", ""]   # empties kept, incl. trailing
    assert r.p3 == ["1", "2=3"]
    assert r.one == ["b"]
    assert r.oob == []
    assert r.emp == [""]                # requested element IS empty
    assert r.neg == []


def test_trim_regex_both_ends(spark):
    """Kusto trim(regex, text) strips every leading AND trailing
    match, trim_start/trim_end every leading/trailing one; the previous
    table entry silently whitespace-trimmed and ignored the regex.
    1-arg whitespace form unchanged."""
    from otel_arrow_spark.operators.kql_parser import kql

    df = spark.createDataFrame([("--ab--", "  x  ", "aXa")],
                               "a string, b string, c string")
    r = kql(df, 'T | project t2 = trim("-+", a), t1 = trim(b),'
                ' tc = trim("a", c), t3 = trim("-", a),'
                ' ts = trim_start("-", a), te = trim_end("-", a)').collect()[0]
    assert r.t2 == "ab"
    assert r.t3 == "ab"
    assert (r.ts, r.te) == ("ab--", "--ab")
    assert r.t1 == "x"
    assert r.tc == "X"


def test_every_builtin_checks_its_argument_count(spark):
    """One arity rule: every registry entry rejects max+1 arguments (and
    min−1 where min > 0) with KqlError before building — never a silent
    truncation, an IndexError or any other exception type."""
    for q in ("strlen(s, 'zzz')", "sum(n, n)", "totimespan()"):
        with pytest.raises(KqlError, match=r"argument\(s\), got"):
            parse_expr(q)
    parse_expr("tofloat(x)")  # the todouble builder

    from otel_arrow_spark.operators.kql_parser import (
        _FUNCS, _VARIANT_VIA_STRING,
    )

    assert _VARIANT_VIA_STRING <= _FUNCS.keys()
    for name, (lo, hi, _build) in _FUNCS.items():
        bad = ([] if hi is None else [hi + 1]) + ([lo - 1] if lo else [])
        for n in bad:
            with pytest.raises(KqlError):
                parse_expr(f"{name}({', '.join(['1'] * n)})")


def test_every_evaluate_plugin_checks_its_argument_count(spark):
    """One call rule for `evaluate`: every plugin rejects max+1 arguments
    (and min−1 where min > 0) with a KqlError naming the plugin, and a
    malformed call names its own plugin — not another plugin's grammar."""
    from otel_arrow_spark.operators.kql_parser import _PLUGINS

    df = spark.createDataFrame(
        [(1.0, "u", "2024-01-01 00:00:00")], "v double, user string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))

    def raises_naming(call, name):
        with pytest.raises(KqlError) as exc:
            kql(df, f"T | evaluate {call}")
        assert name in str(exc.value), (call, str(exc.value))

    for name, (lo, hi, _handler) in _PLUGINS.items():
        bad = ([] if hi is None else [hi + 1]) + ([lo - 1] if lo else [])
        for n in bad:
            raises_naming(f"{name}({', '.join(['user'] * n)})", name)

    dt = "datetime(2024-01-01), datetime(2024-01-02)"
    for call in (
        "session_count(user, ts)",
        f"session_count(user, ts, {dt}, 1h, 1d, 1h)",
        f"activity_counts_metrics(user, ts, {dt})",
        "rolling_percentile(v, 50, ts, 1h)",
        "basket(0.1, 2)",
        "narrow(1)",
        "dcount_intersect(user)",
        "frobnicate(k)",
        # argument readers name the plugin too
        f"session_count(nosuch, ts, {dt}, 1h, 1d)",
        "session_count(user, ts, 2024-01-01, datetime(2024-01-02), 1h, 1d)",
        f"session_count(user, ts, {dt}, 1x, 1d)",
        "rolling_percentile(v, 50, ts, 1h, 0)",
        f"funnel_sequence(user, ts, {dt}, 1h, user, ['a', 'b'])",
        "basket(0.1) extra",
    ):
        raises_naming(call, call[:call.index("(")])
