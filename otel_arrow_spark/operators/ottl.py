"""OTTL-subset parser: transform-statement strings → DataFrame plan.

The reference ships only a literal-scalar skeleton of an OTTL parser
(`rust/experimental/query_engine/ottl-parser/src/ottl.pest`, 300 LoC
total; its header cites the public OTTL LANGUAGE.md from
opentelemetry-collector-contrib/pkg/ottl as the target language).
This module implements the statement layer that skeleton points at,
compiled straight to Catalyst expressions — the same mapping discipline
as the KQL parser (SURVEY §3.1), sharing its scalar expression parser
for arguments and ``where`` predicates (the two languages share the
scalar core: literals, paths, comparisons, boolean logic).

Supported editors (public OTTL semantics; all conditional via
``where``):

    set(target, value)                 -- map entry or column write
    delete_key(map, "k")
    delete_matching_keys(map, "re")
    keep_keys(map, ["a", "b"])
    keep_matching_keys(map, "re")
    replace_pattern(target, "re", "r") -- regexp replace on a column
    replace_all_patterns(map, "re", "r") -- ... on every map value
    truncate_all(map, n)               -- cap every map value length
    limit(map, n)                      -- keep n smallest keys (determ.)
    drop() / keep()                    -- row filter (with `where`)

Conditional column edits compile to ``when(cond, edited).otherwise
(original)`` — one narrow projection per statement, no shuffle ever;
a whole OTTL program stays a single fused stage under whole-stage
codegen (the attributes-processor execution shape,
`crates/otap/src/attributes_processor.rs:4-30`).
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from otel_arrow_spark.operators.kql_parser import (
    _STR_LIT, KqlError, _find_top, _split_top_level, _unquote, parse_expr,
    parse_expr_ke,
)


class OttlError(ValueError):
    pass


_STMT_RE = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)\s*$", re.S)
_TARGET_RE = re.compile(
    rf"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(?:\[\s*({_STR_LIT})\s*\])?\s*$"
)


def _parse_target(s: str) -> tuple[str, str | None]:
    """An assignment target: bare column or ``map_col["key"]``."""
    m = _TARGET_RE.match(s)
    if not m:
        raise OttlError(f"bad target path {s!r}")
    return m.group(1), m.group(2) and _unquote(m.group(2))


def _lit_str_arg(s: str) -> str:
    e = parse_expr_ke(s.strip())
    if not isinstance(e.lit, str):
        raise OttlError(f"expected a string literal, got {s!r}")
    return e.lit


def _lit_int_arg(s: str) -> int:
    e = parse_expr_ke(s.strip())
    if not e.is_lit or isinstance(e.lit, bool) or not isinstance(e.lit, (int, float)):
        raise OttlError(f"expected an integer literal, got {s!r}")
    return int(e.lit)


def _list_of_str(s: str) -> list[str]:
    s = s.strip()
    if not (s.startswith("[") and s.endswith("]")):
        raise OttlError(f"expected a [\"…\"] list, got {s!r}")
    return [_lit_str_arg(p) for p in _split_top_level(s[1:-1], ",")]


def _conditional(df: DataFrame, col_name: str, edited: Column,
                 cond: Column | None) -> DataFrame:
    if cond is not None:
        edited = F.when(cond, edited).otherwise(F.col(col_name))
    return df.withColumn(col_name, edited)


def _set_map_key(m: Column, key: str, value: Column) -> Column:
    # filter-then-concat: concat with a duplicate key is an error under
    # spark.sql.mapKeyDedupPolicy=EXCEPTION (the default). The outer
    # coalesce handles a NULL map: map_filter(NULL)→NULL and
    # map_concat(NULL, …)→NULL would silently no-op the write, whereas
    # OTTL set() on a missing/empty map creates the entry.
    entry = F.create_map(F.lit(key), value)
    cleaned = F.map_filter(m, lambda k, _v: k != F.lit(key))
    return F.coalesce(F.map_concat(cleaned, entry), entry)


def apply_statement(df: DataFrame, stmt: str) -> DataFrame:
    # split ``call(...) where cond`` at a top-level ``where`` keyword
    at = _find_top(stmt, r"(?<!\S)where(?!\w)")
    call_src, where_src = (
        (stmt, None) if at is None else (stmt[:at], stmt[at + 5:]))
    cond = None
    if where_src is not None:
        try:
            cond = parse_expr(where_src)
        except KqlError as e:
            raise OttlError(f"bad where-clause in {stmt!r}: {e}") from e
    m = _STMT_RE.match(call_src)
    if not m:
        raise OttlError(f"bad statement {stmt!r}")
    name, argstr = m.group(1).lower(), m.group(2).strip()
    args = _split_top_level(argstr, ",")

    def need(n: int) -> None:
        if len(args) != n:
            raise OttlError(f"{name}() takes {n} args, got {len(args)}")

    if name == "drop":
        need(0)
        if cond is None:
            raise OttlError("drop() without a where-clause drops everything")
        return df.filter(~cond)
    if name == "keep":
        need(0)
        if cond is None:
            raise OttlError("keep() without a where-clause is a no-op")
        return df.filter(cond)
    if name == "set":
        need(2)
        col, key = _parse_target(args[0])
        try:
            value = parse_expr(args[1])
        except KqlError as e:
            raise OttlError(f"bad value in {stmt!r}: {e}") from e
        if key is None:
            return _conditional(df, col, value, cond)
        return _conditional(df, col, _set_map_key(F.col(col), key, value), cond)
    if name == "delete_key":
        need(2)
        col, key = _parse_target(args[0])
        if key is not None:
            raise OttlError("delete_key target must be the map itself")
        k = _lit_str_arg(args[1])
        edited = F.map_filter(F.col(col), lambda mk, _v: mk != F.lit(k))
        return _conditional(df, col, edited, cond)
    if name == "delete_matching_keys":
        need(2)
        col, _ = _parse_target(args[0])
        pat = _lit_str_arg(args[1])
        edited = F.map_filter(F.col(col), lambda mk, _v: ~mk.rlike(pat))
        return _conditional(df, col, edited, cond)
    if name == "keep_matching_keys":
        need(2)
        col, _ = _parse_target(args[0])
        pat = _lit_str_arg(args[1])
        edited = F.map_filter(F.col(col), lambda mk, _v: mk.rlike(pat))
        return _conditional(df, col, edited, cond)
    if name == "keep_keys":
        need(2)
        col, _ = _parse_target(args[0])
        keys = _list_of_str(args[1])
        edited = F.map_filter(
            F.col(col), lambda mk, _v: mk.isin(*[F.lit(k) for k in keys])
        )
        return _conditional(df, col, edited, cond)
    if name == "replace_pattern":
        need(3)
        col, key = _parse_target(args[0])
        pat, repl = _lit_str_arg(args[1]), _lit_str_arg(args[2])
        if key is not None:
            edited = _set_map_key(
                F.col(col), key,
                F.regexp_replace(
                    # try_element_at: a missing key is NULL, not an ANSI error
                    F.try_element_at(F.col(col), F.lit(key)),
                    F.lit(pat), F.lit(repl),
                ),
            )
        else:
            edited = F.regexp_replace(F.col(col), F.lit(pat), F.lit(repl))
        return _conditional(df, col, edited, cond)
    if name == "replace_all_patterns":
        need(3)
        col, _ = _parse_target(args[0])
        pat, repl = _lit_str_arg(args[1]), _lit_str_arg(args[2])
        edited = F.transform_values(
            F.col(col),
            lambda _k, v: F.regexp_replace(v, F.lit(pat), F.lit(repl)),
        )
        return _conditional(df, col, edited, cond)
    if name == "truncate_all":
        need(2)
        col, _ = _parse_target(args[0])
        n = _lit_int_arg(args[1])
        edited = F.transform_values(
            F.col(col), lambda _k, v: F.substring(v, 1, n)
        )
        return _conditional(df, col, edited, cond)
    if name == "limit":
        need(2)
        col, _ = _parse_target(args[0])
        n = _lit_int_arg(args[1])
        # deterministic: keep the n smallest keys (OTTL leaves the choice
        # to the implementation; determinism is the requirement here)
        edited = F.map_from_entries(
            F.slice(F.array_sort(F.map_entries(F.col(col))), 1, n)
        )
        return _conditional(df, col, edited, cond)
    raise OttlError(f"unknown OTTL editor {name!r}")


def ottl(df: DataFrame, statements: str | Sequence[str]) -> DataFrame:
    """Apply an OTTL-subset program (one statement per line / element)."""
    if isinstance(statements, str):
        statements = [
            s.strip() for s in statements.splitlines() if s.strip()
            and not s.strip().startswith("//")
        ]
    for stmt in statements:
        df = apply_statement(df, stmt)
    return df
