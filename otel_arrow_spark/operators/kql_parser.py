"""KQL-subset parser: query string → DataFrame logical plan.

The reference parses KQL with a pest PEG grammar into an expression IR
and interprets it row-at-a-time (`rust/experimental/query_engine/
kql-parser/src/kql.pest`, entry rule :330-336; tabular parsers
`tabular_expressions.rs`; IR `expressions/src`; interpreter
`engine-recordset/src/engine.rs`). Here the parser compiles the same
surface **directly to Catalyst expressions** — the optimizer and
whole-stage codegen replace the IR optimizer and interpreter
(SURVEY §3.1).

Supported tabular operators (grammar refs into `tabular_expressions.rs`):

    where <pred>                 (:327-349)
    extend a = e, b = e2         (:20-46)
    project a, b = e             (:47-115)
    project-keep  p1, p2*        (:116-190)
    project-away  p1, p2*        (:191-265)
    project-rename new = old     (:266-326)
    summarize agg() [by k1, …]   (:350-490; post-summarize pipe stages
                                  compose naturally — each stage operates
                                  on the previous stage's DataFrame)
    order by c [asc|desc]        (DataFusion example analog)
    take / limit N
    count
    distinct c1, …

Scalar surface (kql.pest:22-47 operators, :118-208 functions):
arithmetic, comparisons incl. case-insensitive ``=~``/``!~``, boolean
``and/or/not()``, ``contains/has/startswith/endswith`` (+ ``_cs``
variants), ``in/!in/in~``, ``matches regex``, ``iff/iif``, ``case``,
``coalesce``, ``bin``, string/convert/parse/temporal/collection
functions per the mapping table in SURVEY §2.10.

Accessors (`expressions/src/value_accessor.rs`; kql.pest:112-115):
``a['k']``, ``a[0]``, dotted struct paths ``a.b``, and attached-record
scoped paths ``resource.attributes['service.name']`` — the latter
resolve against struct columns (see ``attach_records`` in
`operators/attrs.py`), mirroring the reference's attached-record
accessor resolution (`kql-parser/src/tabular_expressions.rs:350-490`).

Also supported: ``let name = expr;`` constant bindings (folded by
Catalyst, mirroring the reference's constant resolution,
`pipeline_expression.rs:75-88`), ``dynamic([...])`` array and
``dynamic({...})`` map literals (kql.pest:126-133), timespan literals,
``ago()``, ``between (lo .. hi)``.

Tabular operators beyond the reference grammar (Kusto-documented
semantics): ``join``/``lookup`` (equi-join flavors), ``union``
(incl. ``isfuzzy``), ``make-series``, ``scan`` (incl. ``declare``
state), ``evaluate`` plugins (pivot/bag_unpack/narrow/basket/
autocluster/diffpatterns/rows_near/dcount_intersect, the activity
family incl. sliding_window_counts/rolling_percentile/session_count,
funnel_sequence[_completion], sequence_detect, ipv4_lookup,
ipv6_lookup),
``mv-apply``, ``mv-expand`` (incl. ``with_itemindex``), ``partition``,
``sample``, ``top-nested``, ``facet``, ``find``, ``reduce by``, the
graph family (``make-graph``/``graph-match``/``graph-shortest-paths``/
``graph-mark-components``/``graph-to-table``) and ``externaldata`` —
each compiled to the same declarative Catalyst plan shapes as the core
surface.

Round-5 scalar round-out: ``gamma``/``loggamma`` (Lanczos g=7 +
reflection), ``erf``/``erfc``, ``beta_cdf``/``beta_pdf``/``welch_test``
(regularized incomplete beta — Horner-folded 2F1 series inside one
``F.aggregate``), the ``convert_*`` unit-conversion family,
``geo_point_to_geohash``/``geo_geohash_to_central_point``,
``geo_point_in_polygon`` (even-odd ray-cast fold over GeoJSON rings,
planar-edge subset) / ``geo_line_length`` (haversine vertex fold) /
``geo_polygon_area`` (Chamberlain–Duquette spherical area),
``series_fft``/``series_ifft`` (direct DFT, {re,im} bag),
``series_stats_dynamic``, series trig, the hash round-out
(``hash_md5/sha1/xxhash64/many/combine``), ``extract_json`` with
``typeof()`` type literals, ``replace_strings``, ``to_utf8``/
``make_string``, ``datetime_utc_to_local``/``datetime_local_to_utc``,
``unixtime_{milli,micro,nano}seconds_todatetime``, ``todecimal``/
``toguid``/``cot``/``rand``/``new_guid``/``isutf8``/``string_size``,
``format_ipv4_mask``/``ipv4_is_in_any_range``, ``dynamic_to_json``,
and the tdigest family as a lossless-digest composition subset
(``percentile_tdigest(tdigest(x), p)`` → exact percentile, incl.
``rank_tdigest``/``percentrank_tdigest``). Late round-5 batch: the
RFC-3492 ``punycode_{from,to}_string`` / ``punycode_domain_*`` quartet
and ``parse_xml`` (both via the sanctioned Arrow-batched codec seam),
``has_any_index``, ``assert``, ``anyif``, ``ipv6_is_in_range``/
``ipv6_is_in_any_range``, and APPLIED ``hint.strategy``/
``hint.shufflekey`` on ``join``/``summarize``. Closing batch: plural
``percentiles()``/``percentilesw()`` in summarize (auto-named or
tuple-assigned columns from ONE exact array aggregate), scalar
``range()``, the ``consume`` operator, and 0-based computed array
indexing ``arr[i]`` (try_element_at, null out-of-range). Final batch:
``row_cumsum(x, restart)`` (closed-form segment reset sharing the
serialize window's one Exchange+Sort) and ``series_seasonal`` /
``series_decompose_*`` period −1/omitted auto-detect
(series_periods_detect @ 0.7, zero-series fallback, detection
materialized once per row via a transform-bound lambda variable).

Builtin functions: each name is one entry of the registry ``_FUNCS``
— lowercase name → (min_args, max_args or None when variadic,
builder). Column-pure functions are declared with their arity in
``_FUNC_MAP_SIMPLE`` (scalars) and ``_AGG_MAP`` (aggregates); functions
that read literal arguments, KE flags or the parser's bindings/window
spec are ``ExprParser`` methods registered with ``@_builtin(names,
min_args, max_args)``. A name registered twice fails at import.
``ExprParser._call`` looks the name up and checks the argument count
once (``_check_arity``, which also checks user functions and the
functions of ``scan`` expressions) before building.

``evaluate`` plugins: each is one entry of the registry ``_PLUGINS`` —
name → (min_args, max_args or None when variadic, handler) — declared
by a module function registered with ``@_plugin(name, min_args,
max_args)`` (a name registered twice fails at import). ``_evaluate``
parses the call once (name, balanced parentheses, nothing after them),
rejects an unknown name, checks the argument count with
``_check_arity`` and hands the top-level-split argument texts to the
handler as ``_PluginArgs``. Its shared readers (input column,
``datetime(…)``, timespan, integer, number, flag, ``dynamic([…])``
list) raise a ``KqlError`` that names the plugin; checks that are not
about one argument (lookup tables, a serialized row set, the optional
datetime pair) stay in the handler.

Implementation note: every parse result is a ``KE`` node — a Catalyst
Column plus, when the expression is a literal, its Python value. Literal
arguments (regex patterns, delimiters, bin widths, accessor keys) travel
with the expression itself, so there is no global side-table keyed by
object identity (which could both leak and misclassify reused ids).
"""

from __future__ import annotations

import base64
import gzip
import itertools
import math
import re
import zlib
from dataclasses import dataclass
from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


class KqlError(ValueError):
    pass


# ---------------------------------------------------------------------------
# lexical rule: string literals and the top-level scanner
# ---------------------------------------------------------------------------

# The one KQL string literal (kql.pest string rule): verbatim @'…'/@"…"
# takes no escapes, '…'/"…" take backslash escapes. Every tokenizer,
# splitter and literal-stripping regex in this package is built on it.
_STR_LIT = r"""@'[^']*'|@"[^"]*"|'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*\""""
_STR_LIT_RE = re.compile(_STR_LIT)
_STR_SEG_RE = re.compile(f"({_STR_LIT})")  # re.split keeps the literals


def _unquote(s: str) -> str:
    """Decode a `_STR_LIT` literal to its value."""
    if s[0] == "@":
        return s[2:-1]
    return re.sub(r"\\(.)", r"\1", s[1:-1])


def _scan(src: str, start: int = 0):
    """Yield ``(index, depth)`` for every character of ``src`` at or
    after ``start`` that lies outside a string literal. ``depth`` counts
    the ``()[]{}`` brackets open around the character; an opening and
    its closing bracket report the same depth. An unterminated literal
    runs to the end of the text."""
    depth, i, n = 0, start, len(src)
    while i < n:
        ch = src[i]
        if ch in "'\"" or (ch == "@" and src[i + 1:i + 2] in ("'", '"')):
            m = _STR_LIT_RE.match(src, i)
            if m is None:
                return
            i = m.end()
            continue
        if ch in ")]}":
            depth -= 1
        yield i, depth
        if ch in "([{":
            depth += 1
        i += 1


def _split_top_level(q: str, sep: str) -> list[str]:
    """Split on ``sep`` outside string literals and brackets; parts are
    stripped and empty ones dropped."""
    parts, last = [], 0
    for i, depth in _scan(q):
        if depth == 0 and q[i] == sep:
            parts.append(q[last:i].strip())
            last = i + 1
    parts.append(q[last:].strip())
    return [p for p in parts if p]


def _find_top(src: str, pattern: str, start: int = 0,
              any_depth: bool = False) -> int | None:
    """First index at/after ``start``, outside string literals and (unless
    ``any_depth``) brackets, where regex ``pattern`` matches; else None.
    Lookbehinds in ``pattern`` see the text before the index."""
    rx = re.compile(pattern)
    for i, depth in _scan(src, start):
        if (any_depth or depth == 0) and rx.match(src, i):
            return i
    return None


def _find_kw_top(src: str, kw: str) -> int | None:
    """First index of word ``kw`` outside strings/brackets, or None."""
    return _find_top(src, rf"(?<!\w){kw}(?!\w)")


def _find_by_top(src: str) -> int | None:
    """Index of a top-level `` by `` clause keyword (whitespace on both
    sides), or None."""
    return _find_top(src, r"(?<=\s)by\s")


def _matching_paren(src: str, open_idx: int) -> int:
    """Index of the ``)`` closing ``src[open_idx] == '('``."""
    for i, depth in _scan(src, open_idx):
        if depth == 0 and i > open_idx:
            if src[i] == ")":
                return i
            break
    raise KqlError(f"unbalanced parentheses at {src[open_idx:]!r}")


# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    rf"""
    (?P<ws>\s+)
  | (?P<datetime>datetime\(\s*[^)]*\))
  | (?P<timespan>\d+(?:\.\d+)?(?:ms|d|h|m|s)\b)
  | (?P<number>0[xX][0-9a-fA-F]+|\d+\.\d+|\d+)
  | (?P<string>{_STR_LIT})
  | (?P<op>=~|!~|==|!=|<=|>=|\.\.|<|>|\+|-|\*|/|%|=|\(|\)|\[|\]|\{{|\}}|,|:|;|\.)
  | (?P<bang_ident>![a-zA-Z_][a-zA-Z0-9_]*~?)  # !in, !in~, !contains…
  | (?P<ident>[a-zA-Z_][a-zA-Z0-9_]*~?)        # idents and in~ / =~ words
    """,
    re.VERBOSE,
)


@dataclass
class Tok:
    kind: str
    text: str


def tokenize(s: str) -> list[Tok]:
    out, i = [], 0
    while i < len(s):
        m = _TOKEN_RE.match(s, i)
        if not m:
            raise KqlError(f"lex error at {s[i:i+20]!r}")
        i = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append(Tok(kind, m.group()))
    out.append(Tok("eof", ""))
    return out


# ---------------------------------------------------------------------------
# expression nodes
# ---------------------------------------------------------------------------

_NOT_LIT = object()


class KE:
    """A parsed expression: Catalyst Column + optional literal value.

    ``variant=True`` marks an expression of Spark VARIANT type (the
    engine analog of KQL dynamic, `kql.pest:198-203`): path access on it
    must go through ``try_variant_get`` — ``Column.getItem`` rejects
    VARIANT — and stays variant-typed so paths chain; a ``to*()``
    conversion then casts it to a concrete type.

    ``bag_map`` optionally carries the ``map<string, variant>`` TWIN of
    a variant property bag: bag-surgery functions compose on the twin
    in map-land and re-enter VARIANT once at the statement boundary,
    instead of paying a full to_json → from_json round-trip per call
    (chained ``bag_merge``/``bag_set_key``/``bag_remove_keys`` were the
    #2 most expensive query before the fusion)."""

    __slots__ = ("col", "lit", "variant", "bag_map")

    def __init__(self, col: Column, lit: object = _NOT_LIT,
                 variant: bool = False,
                 bag_map: Column | None = None):
        self.col = col
        self.lit = lit
        self.variant = variant
        self.bag_map = bag_map

    @property
    def is_lit(self) -> bool:
        return self.lit is not _NOT_LIT


def _mklit(v) -> KE:
    return KE(F.lit(v), v)


class KqlFunc:
    """A `let`-bound user function: ``let f = (x: long) { x * 2 };``.

    Pure macro: the body source re-parses at each call site with the
    parameters bound to the argument expressions, so a scalar function
    compiles to the same Catalyst tree the inlined expression would —
    no Python UDF, nothing escapes codegen (the reference's
    fold-of-let-statics taken one step further). Tabular functions
    (first parameter typed ``(*)``/``(…)``) apply via the ``invoke``
    stage. ``expanding`` guards against self-recursion (KQL user
    functions are non-recursive too).
    """

    __slots__ = ("name", "params", "body", "expanding")

    def __init__(self, name: str, params: list[tuple[str, str]], body: str):
        self.name = name
        self.params = params
        self.body = body
        self.expanding = False

    @property
    def table_params(self) -> list[str]:
        return [p for p, k in self.params if k == "table"]


def _variant_get(c: KE, key) -> KE:
    """One path step into a VARIANT value; missing paths yield NULL
    (``try_variant_get``), matching KQL dynamic access semantics. The
    result stays variant so steps chain (``parse_json(s)['a']['b']``).
    When the bag's map twin is available (bag-surgery fusion), a
    string key reads the map directly — same variant value (twin
    values are JSON-normalized at the producer), no VARIANT path walk,
    and the serialized VARIANT column becomes prunable."""
    if isinstance(key, str):
        if c.bag_map is not None:
            return KE(F.try_element_at(c.bag_map, F.lit(key)),
                      variant=True)
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", key):
            path = f"$.{key}"
        elif "'" not in key:
            # non-identifier keys (parse_xml's '@attr'/'#text', dotted
            # attribute names) via the bracket-quoted path form
            path = f"$['{key}']"
        elif '"' not in key:
            path = f'$["{key}"]'
        else:
            raise KqlError(f"unsupported variant key {key!r}")
    elif not isinstance(key, bool) and isinstance(key, (int, float)):
        path = f"$[{int(key)}]"
    else:
        raise KqlError("variant accessor must be a literal key or index")
    return KE(F.try_variant_get(c.col, path, "variant"), variant=True)


_TYPE_KEYWORDS = frozenset((
    "long", "int", "real", "double", "bool", "boolean", "string",
    "datetime", "timespan", "guid", "dynamic", "decimal",
))


def _lit_str(e: KE) -> str:
    """Recover a literal string argument (regex patterns, delimiters)."""
    if not isinstance(e.lit, str):
        raise KqlError("argument must be a string literal")
    return e.lit


def _lit_int(e: KE) -> int:
    if not e.is_lit or isinstance(e.lit, bool) or not isinstance(e.lit, (int, float)):
        raise KqlError("argument must be an integer literal")
    return int(e.lit)


# ---------------------------------------------------------------------------
# expression parser (Pratt)
# ---------------------------------------------------------------------------

# Column-pure functions: lambdas receive plain Columns.
def _arr_median(arr: Column) -> Column:
    """Exact median of an array: sort + middle-pair mean (matches
    linear-interpolated quantile_cont(0.5) on both engines)."""
    s = F.sort_array(arr)
    n = F.size(arr)
    lo = F.try_element_at(s, ((n + 1) / 2).cast("int"))
    hi = F.try_element_at(s, (n / 2 + 1).cast("int"))
    # ANSI element_at raises INVALID_INDEX_OF_ZERO when the computed
    # index is 0, which it is for an empty array — gate on n > 0 so an
    # empty series yields NULL instead of crashing the query.
    return F.when(n > 0, (lo.cast("double") + hi.cast("double")) / 2)


def _series_outliers(arr: Column) -> Column:
    """MAD z-scores per element: (x - median) / (1.4826 · MAD).

    A documented simplification of Kusto's series_outliers (which uses
    Tukey fences); the MAD form is the standard robust z-score and
    keeps everything a narrow array computation — two sorts of a
    per-row array, no shuffle. An all-constant series (MAD = 0) scores
    0 everywhere rather than dividing by zero.

    CAUTION on the shape: an expression captured inside a HOF lambda is
    re-evaluated PER ELEMENT (no CSE inside codegen'd lambdas) — a
    naive ``transform(arr, x -> (x-med)/scale)`` recomputes the median
    sort O(n) times, turning O(n log n) into O(n² log n) (measured:
    31 s vs 0.9 s at 192-bin series, sf0.1). The median/scale are
    therefore materialized ONCE per row into an ``array_repeat`` of a
    struct and consumed via ``zip_with``."""
    n = F.size(arr)
    med = _arr_median(arr)
    devs = F.zip_with(
        arr,
        F.array_repeat(F.struct(med.alias("m")), n),
        lambda x, s: F.abs(x - s["m"]),
    )
    scale = _arr_median(devs) * 1.4826
    params = F.array_repeat(
        F.struct(med.alias("m"), scale.alias("s")), n
    )
    return F.zip_with(
        arr, params,
        lambda x, s: F.when(s["s"] > 0, (x - s["m"]) / s["s"])
        .otherwise(F.lit(0.0)),
    )


def _series_moving_avg(arr: Column, k: Column) -> Column:
    """Centered moving average, window [i−k, i+k] clamped at the edges
    (the Kusto analog is ``series_fir`` with a centered uniform
    kernel). O(n·k) narrow array work per row, zero shuffle.

    CAUTION (the _series_outliers rule): ``arr`` is referenced inside
    the transform lambda, so pass a COLUMN (or cheap expression) — a
    captured complex expression would re-evaluate per element."""
    n = F.size(arr)
    k = k.cast("int")

    def _avg_at(i: Column) -> Column:
        start0 = F.greatest(i - k, F.lit(0))
        end0 = F.least(i + k, n - 1)
        ln = end0 - start0 + 1
        sl = F.slice(arr, start0 + 1, ln)
        return (
            F.aggregate(sl, F.lit(0.0), lambda acc, x: acc + x)
            / ln.cast("double")
        )

    # n = 0 must yield an empty array, not sequence(0, -1) (which would
    # count DOWN and produce [0, -1])
    return F.when(
        n > 0, F.transform(F.sequence(F.lit(0), n - 1), _avg_at)
    ).otherwise(F.array().cast("array<double>"))


def _series_decompose_anomalies(
    arr: Column, threshold: Column, k: Column
) -> Column:
    """Anomaly flags (+1 / −1 / 0) per element: detrend with the
    centered moving average (window ±k), then flag residuals whose MAD
    z-score exceeds ``threshold`` — a documented simplification of
    Kusto's series_decompose_anomalies (no seasonal component; our
    decomposition is trend + residual only). All narrow array ops."""
    residual = F.zip_with(
        arr, _series_moving_avg(arr, k),
        lambda x, m: x.cast("double") - m,
    )
    scores = _series_outliers(residual)
    return F.transform(
        scores,
        lambda s: F.when(s > threshold, 1)
        .when(s < -threshold, -1)
        .otherwise(0),
    )


def _series_pearson(x: Column, y: Column) -> Column:
    """Pearson correlation of two equal-length series: closed form from
    five sequential folds — O(n), narrow, no per-element captured
    re-evaluation (see _series_outliers CAUTION)."""
    n = F.size(x).cast("double")
    sx, sy = _series_sum(x), _series_sum(y)
    sxx = _series_sum(F.zip_with(x, x, lambda a, b: a.cast("double") * b))
    syy = _series_sum(F.zip_with(y, y, lambda a, b: a.cast("double") * b))
    sxy = _series_sum(F.zip_with(x, y, lambda a, b: a.cast("double") * b))
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    return F.when(
        (varx > 0) & (vary > 0), cov / F.sqrt(varx * vary)
    )


def _ip2long(c: Column) -> Column:
    """Dotted-quad IPv4 → numeric (NULL for malformed input via
    try_cast on each octet)."""
    p = F.split(c, r"\.")
    return (
        F.try_element_at(p, F.lit(1)).try_cast("bigint") * 16777216
        + F.try_element_at(p, F.lit(2)).try_cast("bigint") * 65536
        + F.try_element_at(p, F.lit(3)).try_cast("bigint") * 256
        + F.try_element_at(p, F.lit(4)).try_cast("bigint")
    )


def _parse_ipv4_masked(ip: Column, mask: Column) -> Column:
    """Numeric value of a dotted-quad with the host bits below the mask
    cleared (mask 32 = identity). NULL on malformed input or mask."""
    n = _ip2long(ip)
    block = F.pow(F.lit(2.0), 32 - mask).cast("bigint")
    return F.when(
        mask.between(0, 32),
        F.floor(n / block).cast("bigint") * block,
    ).cast("bigint")


def _format_ipv4(val: Column, *rest: Column) -> Column:
    """Dotted-quad of a numeric IPv4 (or of a dotted/CIDR string),
    optionally masked by a prefix length argument."""
    mask = rest[0].try_cast("int") if rest else F.lit(32)
    num = F.when(
        val.try_cast("bigint").isNotNull(), val.try_cast("bigint")
    ).otherwise(_parse_ipv4_masked(
        F.try_element_at(F.split(val.cast("string"), "/"), F.lit(1)),
        F.coalesce(
            F.try_element_at(F.split(val.cast("string"), "/"),
                             F.lit(2)).try_cast("int"),
            F.lit(32))))
    block = F.pow(F.lit(2.0), 32 - mask).cast("bigint")
    n = F.when(
        mask.between(0, 32) & num.between(0, 4294967295),
        F.floor(num / block).cast("bigint") * block)
    return F.concat_ws(
        ".",
        F.floor(n / 16777216).cast("bigint") % 256,
        F.floor(n / 65536).cast("bigint") % 256,
        F.floor(n / 256).cast("bigint") % 256,
        n % 256,
    )


def _ipv4_in_range(ip: Column, cidr: Column) -> Column:
    """ipv4_is_in_range(ip, 'a.b.c.d/m') — prefix compare via division
    by 2^(32-m) (shiftright needs a literal bit count; the mask length
    here may be a column)."""
    net = F.split(cidr, "/")
    m = F.coalesce(
        F.try_element_at(net, F.lit(2)).try_cast("int"), F.lit(32)
    )
    scale = F.pow(F.lit(2.0), 32 - m)
    return (
        F.floor(_ip2long(ip) / scale)
        == F.floor(_ip2long(F.try_element_at(net, F.lit(1))) / scale)
    )


# has_ipv4 family: an address counts only as a whole token — not
# embedded in a longer dotted/alphanumeric run (Kusto's "properly
# delimited" rule) — so candidate extraction guards both ends with
# single-char lookarounds (fixed width, Java-regex safe).
_IPV4_TOKEN_RE = (
    r"(?<![0-9A-Za-z.])((?:\d{1,3}\.){3}\d{1,3})(?![0-9A-Za-z.])"
)


def _ipv4_tokens(text: Column) -> Column:
    """All properly-delimited, octet-valid IPv4 tokens in ``text``.

    Kusto's ``has_ipv4``/``has_ipv4_prefix``/``has_any_ipv4`` scan
    free text for IPv4 literals; a match requires token delimiting
    AND every octet in 0-255. One ``regexp_extract_all`` plus an
    all-octets filter — pure codegen, linear in the text bytes.
    """
    cands = F.regexp_extract_all(
        text.cast("string"), F.lit(_IPV4_TOKEN_RE), 1)
    return F.filter(
        cands,
        lambda t: F.forall(F.split(t, r"\."),
                           lambda o: o.cast("int") <= 255),
    )


def _b64_codec_udf(fn):
    """Arrow-batched pandas_udf wrapping a bytes→str codec.

    The zlib/gzip ↔ base64 quartet (Kusto's
    ``*_compress_to_base64_string`` / ``*_decompress_from_base64_
    string``) has no Spark builtin (no deflate in Catalyst), so this
    is the repo's third sanctioned Python seam next to the multimodal
    codec and the `scan` state machine: per-value pure compute, Arrow
    batch transfer, no shuffle and no state — it scales exactly like
    a JVM projection, just with the codec running in the Python
    worker. Malformed input returns NULL instead of failing the job
    (Kusto degrades the same way).
    """
    def apply(s: pd.Series) -> pd.Series:
        def one(v):
            if v is None:
                return None
            try:
                return fn(v)
            except Exception:
                return None
        return s.map(one)

    # a DataType instance (not a DDL string) — string return types
    # parse via the active session, which need not exist at import
    return F.pandas_udf(apply, T.StringType())


# gzip pins mtime=0 so output is deterministic across runs/executors
# (Python's default stamps wall-clock into the member header).
_zlib_compress_b64 = _b64_codec_udf(
    lambda v: base64.b64encode(
        zlib.compress(str(v).encode("utf-8"), 6)).decode("ascii"))
_zlib_decompress_b64 = _b64_codec_udf(
    lambda v: zlib.decompress(
        base64.b64decode(str(v), validate=True)).decode("utf-8"))
_gzip_compress_b64 = _b64_codec_udf(
    lambda v: base64.b64encode(
        gzip.compress(str(v).encode("utf-8"), 6, mtime=0)
    ).decode("ascii"))
_gzip_decompress_b64 = _b64_codec_udf(
    lambda v: gzip.decompress(
        base64.b64decode(str(v), validate=True)).decode("utf-8"))


def _punycode_encode(v) -> str:
    """RFC 3492 raw punycode (Python's 'punycode' codec — the same
    algorithm Kusto's punycode_from_string implements). Kusto returns
    an EMPTY string when encoding fails, not null."""
    try:
        return str(v).encode("punycode").decode("ascii")
    except Exception:
        return ""


def _punycode_decode(v) -> str:
    try:
        return str(v).encode("ascii").decode("punycode")
    except Exception:
        return ""


def _puny_domain_encode(v) -> str:
    """IDN encode per label: ASCII labels pass through, non-ASCII
    labels become xn--<punycode> (Kusto punycode_domain_from_string;
    empty string on failure)."""
    try:
        out = []
        for label in str(v).split("."):
            if label.isascii():
                out.append(label)
            else:
                out.append(
                    "xn--" + label.encode("punycode").decode("ascii"))
        return ".".join(out)
    except Exception:
        return ""


def _puny_domain_decode(v) -> str:
    try:
        out = []
        for label in str(v).split("."):
            if label.lower().startswith("xn--"):
                out.append(label[4:].encode("ascii").decode("punycode"))
            else:
                out.append(label)
        return ".".join(out)
    except Exception:
        return ""


_punycode_from_string = _b64_codec_udf(_punycode_encode)
_punycode_to_string = _b64_codec_udf(_punycode_decode)
_punycode_domain_from_string = _b64_codec_udf(_puny_domain_encode)
_punycode_domain_to_string = _b64_codec_udf(_puny_domain_decode)


def _xml_elem_to_obj(elem):
    """Kusto parse_xml convention: attributes keyed '@name', child
    elements by tag (repeated tags collapse to a list), bare text as
    the value itself, mixed content under '#text'."""
    d: dict = {"@" + k: v for k, v in elem.attrib.items()}
    children = list(elem)
    # mixed content: leading text plus each child's tail (ElementTree
    # hangs trailing text off the preceding sibling, not the parent)
    parts = [elem.text or ""] + [c.tail or "" for c in children]
    text = "".join(p.strip() for p in parts)
    if not children and not d:
        return text if text else None
    for c in children:
        o = _xml_elem_to_obj(c)
        if c.tag in d:
            prev = d[c.tag]
            d[c.tag] = prev + [o] if isinstance(prev, list) else [prev, o]
        else:
            d[c.tag] = o
    if text:
        d["#text"] = text
    return d


def _parse_xml_to_json(v) -> str:
    import json as _json
    import xml.etree.ElementTree as _ET

    root = _ET.fromstring(str(v))
    return _json.dumps({root.tag: _xml_elem_to_obj(root)},
                       sort_keys=True, separators=(",", ":"))


# invalid XML → NULL via the codec seam's exception contract
_parse_xml_json = _b64_codec_udf(_parse_xml_to_json)


def _series_sum(arr: Column) -> Column:
    """Sequential left fold — deterministic summation order, unlike a
    distributed SUM (cross-engine oracle relies on this)."""
    return F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )


def _series_fit(arr: Column) -> tuple[Column, Column]:
    """Least-squares line over (index, value): closed-form slope and
    intercept from exact integer index sums (x = 0..n-1), one array
    fold for Σy and one for Σxy — all narrow."""
    n = F.size(arr).cast("double")
    sy = _series_sum(arr)
    sxy = _series_sum(
        F.zip_with(
            arr,
            F.sequence(F.lit(0), F.greatest(F.size(arr), F.lit(1)) - 1),
            lambda y, i: y.cast("double") * i,
        )
    )
    sx = n * (n - 1) / 2
    sxx = (n - 1) * n * (2 * n - 1) / 6
    denom = n * sxx - sx * sx
    slope = F.when(denom > 0, (n * sxy - sx * sy) / denom)
    intercept = (sy - slope * sx) / n
    return slope, intercept


def _series_fir(
    arr: Column, filt: Column, normalize: Column, center: Column
) -> Column:
    """FIR filter over a series (Kusto ``series_fir``): per element i,
    y[i] = Σ_j f[j]·x[i−c+j] over the in-bounds part of the window,
    where the window anchor c = (K−1)//2 when ``center`` else K−1 (the
    window ends at the current element — the causal form). With
    ``normalize`` the sum is divided by the sum of the coefficients
    actually applied, so at the edges a normalized uniform filter
    degrades to a plain average of the available window (Kusto's edge
    behavior). O(n·K) narrow array work per row, zero shuffle.

    CAUTION (the _series_outliers rule): ``arr``/``filt`` are
    referenced inside the transform lambda — pass plain column refs or
    literals, never a complex captured expression."""
    n = F.size(arr)
    k = F.size(filt)
    c = F.when(center, ((k - 1) / 2).cast("int")).otherwise(k - 1)

    def _at(i: Column) -> Column:
        xs = F.greatest(i - c, F.lit(0))
        xe = F.least(i + (k - 1 - c), n - 1)
        m = xe - xs + 1
        xsl = F.slice(arr, xs + 1, m)
        fsl = F.slice(filt, xs - (i - c) + 1, m)
        num = F.aggregate(
            F.zip_with(xsl, fsl, lambda x, f: x.cast("double") * f),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        den = F.aggregate(
            fsl, F.lit(0.0), lambda acc, v: acc + v.cast("double")
        )
        return F.when(
            normalize, F.when(den != 0, num / den)
        ).otherwise(num)

    return F.when(
        n > 0, F.transform(F.sequence(F.lit(0), n - 1), _at)
    ).otherwise(F.array().cast("array<double>"))


def _series_iir(arr: Column, b: Column, a_: Column) -> Column:
    """IIR (recursive) filter (Kusto ``series_iir``):
    y[i] = (Σ_j b[j]·x[i−j] − Σ_{k≥1} a[k]·y[i−k]) / a[0].
    Inherently sequential per element, so it is a left fold that
    appends to the output array — still a narrow per-row computation
    (O(n·(|b|+|a|)) multiplies; the array_append copy makes the fold
    O(n²) in element moves, fine at make-series bin counts). The
    denominator uses 0-based ``F.get`` so an empty ``a`` yields NULL
    elements rather than raising. Cross-engine oracle: a recursive CTE
    computing the identical arithmetic (the probe at the last index
    checksums the whole series — y[n−1] depends on every input)."""
    n = F.size(arr)
    nb = F.size(b)
    na = F.size(a_)
    a0 = F.get(a_, 0).cast("double")

    def _step(acc: Column, i: Column) -> Column:
        m = F.least(i + 1, nb)
        xterm = F.aggregate(
            F.zip_with(
                F.reverse(F.slice(arr, i - m + 2, m)),
                F.slice(b, 1, m),
                lambda x, f: x.cast("double") * f,
            ),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        mk = F.least(i, na - 1)
        yterm = F.when(
            mk > 0,
            F.aggregate(
                F.zip_with(
                    F.reverse(F.slice(acc, i - mk + 1, mk)),
                    F.slice(a_, 2, mk),
                    lambda y, f: y * f.cast("double"),
                ),
                F.lit(0.0),
                lambda s, v: s + v,
            ),
        ).otherwise(F.lit(0.0))
        return F.array_append(acc, (xterm - yterm) / a0)

    return F.when(
        n > 0,
        F.aggregate(
            F.sequence(F.lit(0), n - 1),
            F.array().cast("array<double>"),
            _step,
        ),
    ).otherwise(F.array().cast("array<double>"))


def _series_fit_2lines_bag(fit: Column) -> Column:
    """Repackage ``_series_fit_2lines``'s array result as Kusto's
    dynamic shape (split_idx / rss + left/right line sub-bags)."""
    g = lambda i: F.try_element_at(fit, F.lit(i))  # noqa: E731
    return F.parse_json(F.to_json(F.struct(
        g(1).cast("bigint").alias("split_idx"),
        g(6).alias("rss"),
        F.struct(
            g(2).alias("slope"), g(3).alias("interception")
        ).alias("left"),
        F.struct(
            g(4).alias("slope"), g(5).alias("interception")
        ).alias("right"),
    )))


def _series_fit_dynamic(arr: Column) -> Column:
    """``series_fit_line_dynamic`` — the fit as a dynamic bag
    {rsquare, slope, variance, rvariance, interception, line_fit}.
    Slope/intercept come from the closed-form :func:`_series_fit`;
    the fitted series and residual sums ride zip_with folds with the
    parameters MATERIALIZED once per row via array_repeat (expressions
    captured in HOF lambdas re-evaluate per element — measured, see
    series_outliers)."""
    n = F.size(arr)
    nd = n.cast("double")
    slope, intercept = _series_fit(arr)
    mean = _series_sum(arr) / nd
    params = F.array_repeat(
        F.struct(slope.alias("s"), intercept.alias("b"),
                 mean.alias("m")), n)
    idx = F.sequence(F.lit(0), F.greatest(n, F.lit(1)) - 1)
    line = F.zip_with(
        params, idx, lambda p, i: p["s"] * i + p["b"])
    tss = _series_sum(F.zip_with(
        arr, params,
        lambda y, p: (y.cast("double") - p["m"])
        * (y.cast("double") - p["m"])))
    rss = _series_sum(F.zip_with(
        arr, line,
        lambda y, f: (y.cast("double") - f)
        * (y.cast("double") - f)))
    return F.parse_json(F.to_json(F.struct(
        F.when(tss > 0, 1 - rss / tss).alias("rsquare"),
        slope.alias("slope"),
        (tss / nd).alias("variance"),
        (rss / nd).alias("rvariance"),
        intercept.alias("interception"),
        line.alias("line_fit"),
    )))


def _series_fit_2lines(arr: Column) -> Column:
    """Two-segment least-squares fit (Kusto ``series_fit_2lines``,
    reduced output): picks the split s ∈ [2, n−2] minimizing total RSS
    of independent line fits over [0, s) and [s, n); returns
    ``[split_idx, slope_left, icept_left, slope_right, icept_right,
    rss]`` (NULL when n < 4). One O(n) prefix fold carrying
    (Σy, Σxy, Σy², s); per-candidate scoring is closed-form from the
    prefix element itself (zip_with over the prefix array — the
    candidate's state IS the zipped element, so nothing O(n) is
    captured inside the lambda; the totals ride an array_repeat, the
    _series_outliers materialize-once rule). Index sums Σx, Σx² are
    closed-form in s. All sums of exact small integers stay exact in
    doubles, so an oracle computing the identical closed forms from
    windowed prefix sums matches bit-for-bit; ties on RSS break to the
    smaller split (struct min ordering)."""
    n = F.size(arr)

    def _pstep(acc: Column, v: Column) -> Column:
        prev = F.try_element_at(acc, F.lit(-1))
        s = F.size(acc) + 1
        vd = v.cast("double")
        return F.array_append(
            acc,
            F.struct(
                (F.coalesce(prev["sy"], F.lit(0.0)) + vd).alias("sy"),
                (
                    F.coalesce(prev["sxy"], F.lit(0.0))
                    + vd * (s - 1).cast("double")
                ).alias("sxy"),
                (
                    F.coalesce(prev["syy"], F.lit(0.0)) + vd * vd
                ).alias("syy"),
                s.cast("double").alias("s"),
            ),
        )

    pref = F.aggregate(
        arr,
        F.array().cast(
            "array<struct<sy:double,sxy:double,syy:double,s:double>>"
        ),
        _pstep,
    )
    tot = F.try_element_at(pref, F.lit(-1))
    cand = F.slice(pref, 2, F.greatest(n - 3, F.lit(0)))
    reps = F.array_repeat(
        F.struct(
            tot["sy"].alias("tsy"),
            tot["sxy"].alias("tsxy"),
            tot["syy"].alias("tsyy"),
            n.cast("double").alias("nn"),
        ),
        F.greatest(n - 3, F.lit(0)),
    )

    def _seg(
        ns: Column, sy: Column, sxy: Column, syy: Column,
        sx: Column, sxx: Column,
    ) -> tuple[Column, Column, Column]:
        d = ns * sxx - sx * sx
        slope = (ns * sxy - sx * sy) / d
        icept = (sy - slope * sx) / ns
        rss = syy - icept * sy - slope * sxy
        return slope, icept, rss

    def _score(p: Column, t: Column) -> Column:
        ns = p["s"]
        sx_l = ns * (ns - 1) / 2
        sxx_l = (ns - 1) * ns * (2 * ns - 1) / 6
        sl_l, ic_l, rss_l = _seg(
            ns, p["sy"], p["sxy"], p["syy"], sx_l, sxx_l
        )
        nn = t["nn"]
        nr = nn - ns
        sx_r = nn * (nn - 1) / 2 - sx_l
        sxx_r = (nn - 1) * nn * (2 * nn - 1) / 6 - sxx_l
        sl_r, ic_r, rss_r = _seg(
            nr, t["tsy"] - p["sy"], t["tsxy"] - p["sxy"],
            t["tsyy"] - p["syy"], sx_r, sxx_r,
        )
        return F.struct(
            (rss_l + rss_r).alias("rss"),
            ns.alias("split"),
            sl_l.alias("sl_l"),
            ic_l.alias("ic_l"),
            sl_r.alias("sl_r"),
            ic_r.alias("ic_r"),
        )

    best = F.array_min(F.zip_with(cand, reps, _score))
    return F.when(
        n >= 4,
        F.array(
            best["split"], best["sl_l"], best["ic_l"],
            best["sl_r"], best["ic_r"], best["rss"],
        ),
    )


def _series_periods(arr: Column, min_p: Column, max_p: Column) -> Column:
    """Dominant-period detection (Kusto ``series_periods_detect``,
    reduced to the single best hit): for each candidate lag L in
    [min_p, max_p] score the autocorrelation pearson(x[0:n−L],
    x[L:n]); return ``[best_lag, score]`` (ties → smaller lag; a
    zero-variance window scores NULL and ranks below every real
    correlation via the −2.0 sentinel). O(Σ_L (n−L)) narrow array
    folds per row — each lag's five sums are direct zip_with/fold args
    on slices, nothing O(n) is captured per element."""
    n = F.size(arr)
    lo = F.greatest(min_p.cast("int"), F.lit(1))
    hi = F.least(max_p.cast("int"), n - 2)
    lags = F.when(
        hi >= lo, F.sequence(lo, hi)
    ).otherwise(F.array().cast("array<int>"))

    def _score(lag: Column) -> Column:
        x = F.slice(arr, 1, n - lag)
        y = F.slice(arr, lag + 1, n - lag)
        s = _series_pearson(x, y)
        return F.struct(
            (-F.coalesce(s, F.lit(-2.0))).alias("ns"),
            lag.cast("double").alias("lag"),
            s.alias("score"),
        )

    best = F.array_min(F.transform(lags, _score))
    return F.when(
        F.size(lags) > 0, F.array(best["lag"], best["score"])
    )


def _scalar_range(a: list[Column]) -> Column:
    """Kusto scalar ``range(start, stop[, step])`` → dynamic array of
    start, start+step, … up to stop INCLUSIVE (numeric subset; Kusto
    also accepts datetime+timespan). Built as an index transform over
    F.sequence so fractional steps work (F.sequence alone is integral):
    n = floor((stop−start)/step)+1 elements. NULL args or step=0 →
    NULL (Kusto errors on step 0; NULL is this engine's no-throw
    lane); an empty span (start past stop in step's direction) → [].
    Values are doubles (one documented engine-wide numeric lane;
    Kusto preserves long for integral inputs)."""
    start = a[0].cast("double")
    stop = a[1].cast("double")
    step = a[2].cast("double") if len(a) == 3 else F.lit(1.0)
    step = F.when(step != 0, step)  # 0 → NULL, never a div-by-0
    n = (F.floor((stop - start) / step) + 1).cast("bigint")
    idx = (
        F.when(n > 0, F.sequence(F.lit(0), n - 1))
        .when(n <= 0, F.array().cast("array<bigint>"))
    )  # n NULL (NULL arg / step 0) falls through to NULL
    return F.transform(idx, lambda i: start + i.cast("double") * step)


def _series_fill_forward(arr: Column) -> Column:
    """Kusto ``series_fill_forward``: each NULL takes the nearest
    preceding non-null value; leading NULLs stay NULL. One O(n)
    array fold — narrow, codegen'd, zero shuffle."""
    def step(acc: Column, v: Column) -> Column:
        prev = F.try_element_at(acc, F.lit(-1))
        return F.array_append(acc, F.coalesce(v.cast("double"), prev))

    return F.aggregate(arr, F.array().cast("array<double>"), step)


def _series_fill_backward(arr: Column) -> Column:
    """Kusto ``series_fill_backward`` = forward fill over the reversed
    array, reversed back (trailing NULLs stay NULL)."""
    return F.reverse(_series_fill_forward(F.reverse(arr)))


def _series_fill_linear(arr: Column) -> Column:
    """Kusto ``series_fill_linear``: interior NULL runs interpolate
    linearly between their non-null anchors; leading/trailing NULLs take
    the nearest non-null value. Two O(n) anchor folds (forward and
    backward, each carrying (value, index) of the nearest non-null),
    zipped and combined per element — anchors are zip_with ARGUMENTS,
    so they materialize once per row, never per element (the
    _series_outliers materialize-once rule)."""
    def astep(acc: Column, v: Column) -> Column:
        prev = F.try_element_at(acc, F.lit(-1))
        i = F.size(acc)
        return F.array_append(
            acc,
            F.struct(
                F.coalesce(v.cast("double"), prev["v"]).alias("v"),
                F.when(v.isNotNull(), i)
                .otherwise(prev["i"])
                .cast("int")
                .alias("i"),
            ),
        )

    empty = F.array().cast("array<struct<v:double,i:int>>")
    fwd = F.aggregate(arr, empty, astep)
    bwd = F.reverse(F.aggregate(F.reverse(arr), empty, astep))
    n = F.size(arr)
    zipped = F.zip_with(
        F.zip_with(
            arr,
            fwd,
            lambda x, f: F.struct(
                x.cast("double").alias("x"),
                f["v"].alias("fv"),
                f["i"].alias("fi"),
            ),
        ),
        bwd,
        lambda s, b: F.struct(
            s["x"].alias("x"),
            s["fv"].alias("fv"),
            s["fi"].alias("fi"),
            b["v"].alias("bv"),
            b["i"].alias("bi"),
        ),
    )
    return F.transform(
        zipped,
        lambda s, i: F.when(s["x"].isNotNull(), s["x"])
        .when(s["fi"].isNull(), s["bv"])
        .when(s["bi"].isNull(), s["fv"])
        .otherwise(
            s["fv"]
            + (s["bv"] - s["fv"])
            * (i - s["fi"]).cast("double")
            / (n - 1 - s["bi"] - s["fi"]).cast("double")
        ),
    )


def _series_auto_period(arr: Column) -> Column:
    """Auto-detected seasonality period (Kusto's ``period = -1``
    contract for ``series_seasonal`` / ``series_decompose``):
    ``series_periods_detect`` over lags [2, n/2], accepting the best
    lag only when its autocorrelation score clears Kusto's 0.7
    threshold — else 0 (no seasonality → zero seasonal component).
    Deterministic: the detection is the same tie-to-smaller-lag argmax
    fold as the standalone function, evaluated per row with no extra
    shuffle."""
    best = _series_periods(arr, F.lit(2), F.size(arr) / 2)
    return F.when(
        best.isNotNull()
        & (F.coalesce(F.element_at(best, 2), F.lit(-2.0)) >= 0.7),
        F.element_at(best, 1).cast("int"),
    ).otherwise(F.lit(0))


def _series_seasonal(arr: Column, p: Column) -> Column:
    """Kusto ``series_seasonal``: element i takes the median of all
    values at the same phase (i mod period). The period's phase-median
    array computes ONCE per row (it rides an ``array_repeat`` — the
    _series_outliers materialize-once rule, never recomputed per
    element); each phase median is the _arr_median of an index-filtered
    slice. O(p · n log n) per row, narrow, zero shuffle. Period −1 (the
    Kusto default) auto-detects via ``_series_auto_period``; when
    detection finds no period ≥ the 0.7 threshold the result is the
    all-zero series (Kusto's contract), while an explicit non-positive
    period keeps returning NULL."""
    praw = p.cast("int")
    pi_once = F.when(praw == -1, _series_auto_period(arr)).otherwise(praw)

    def _body(pi: Column) -> Column:
        # `pi` is a lambda variable here, so the (possibly O(n²)
        # detection) period expression evaluates ONCE per row — the
        # phase filter / zip_with lambdas below reference the bound
        # value, never re-running the detection per element
        n = F.size(arr)
        ph_meds = F.transform(
            F.sequence(F.lit(0), pi - 1),
            lambda ph: _arr_median(
                F.filter(arr, lambda x, i: i % pi == ph)
            ),
        )
        reps = F.array_repeat(F.struct(ph_meds.alias("m")), n)
        idx = F.sequence(F.lit(0), n - 1)
        zeros = F.array_repeat(F.lit(0.0), n)
        return F.when(
            (praw == -1) & (pi <= 0), zeros
        ).when(pi <= 0, F.lit(None).cast("array<double>")).when(
            n > 0,
            F.zip_with(
                idx, reps,
                lambda i, r: F.try_element_at(r["m"], (i % pi) + 1),
            ),
        ).otherwise(F.array().cast("array<double>"))

    return F.element_at(F.transform(F.array(pi_once), _body), 1)


def _series_decompose_part(arr: Column, p: Column, part: str) -> Column:
    """Kusto ``series_decompose`` split into per-component functions
    (``series_decompose_trend`` / ``_baseline`` / ``_residual`` — the
    tuple-assign `extend (b,s,t,r) = series_decompose(..)` syntax is
    not supported, so each component is its own function; the seasonal
    component IS ``series_seasonal``). Same algorithm: seasonal =
    per-phase medians; trend = least-squares line over the
    DEseasonalized series; baseline = seasonal + trend; residual =
    x − baseline. All narrow folds/zips, zero shuffle; the line's
    (slope, intercept) are scalar columns riding an array_repeat so
    nothing O(n) re-evaluates per element."""
    seasonal = _series_seasonal(arr, p)
    deseason = F.zip_with(
        arr, seasonal, lambda x, s: x.cast("double") - s
    )
    slope, icept = _series_fit(deseason)
    n = F.size(arr)
    reps = F.array_repeat(
        F.struct(slope.alias("sl"), icept.alias("ic")), n
    )
    idx = F.sequence(F.lit(0), n - 1)
    trend = F.zip_with(
        idx, reps, lambda i, r: r["ic"] + r["sl"] * i.cast("double")
    )
    if part == "trend":
        out = trend
    elif part == "baseline":
        out = F.zip_with(seasonal, trend, lambda s, t: s + t)
    else:  # residual
        out = F.zip_with(
            F.zip_with(arr, seasonal, lambda x, s: x.cast("double") - s),
            trend,
            lambda d, t: d - t,
        )
    return F.when(n > 0, out).otherwise(F.array().cast("array<double>"))


def _series_forecast(arr: Column, p: Column, pts: Column) -> Column:
    """Kusto ``series_decompose_forecast(series, period, points)``:
    train seasonal + trend on all but the last ``points`` elements,
    return the full-length baseline — the trailing ``points`` entries
    are the forecast. Same components as ``series_decompose_*``
    (per-phase medians; least-squares line on the deseasonalized
    train), with the phase-median array and (slope, intercept) riding
    ONE array_repeat so nothing O(n) re-evaluates per element. Narrow,
    zero shuffle."""
    pi = p.cast("int")
    k = pts.cast("int")
    n = F.size(arr)
    m = n - k
    train = F.slice(arr, F.lit(1), F.greatest(m, F.lit(0)))
    ph_meds = F.transform(
        F.sequence(F.lit(0), pi - 1),
        lambda ph: _arr_median(
            F.filter(train, lambda x, i: i % pi == ph)),
    )
    reps_tr = F.array_repeat(
        F.struct(ph_meds.alias("m")), F.greatest(m, F.lit(0)))
    seasonal_train = F.zip_with(
        F.sequence(F.lit(0), m - 1), reps_tr,
        lambda i, r: F.try_element_at(r["m"], (i % pi) + 1))
    deseason = F.zip_with(
        train, seasonal_train, lambda x, s: x.cast("double") - s)
    slope, icept = _series_fit(deseason)
    reps = F.array_repeat(
        F.struct(ph_meds.alias("m"), slope.alias("sl"),
                 icept.alias("ic")), n)
    out = F.zip_with(
        F.sequence(F.lit(0), n - 1), reps,
        lambda i, r: (
            F.try_element_at(r["m"], (i % pi) + 1)
            + r["ic"] + r["sl"] * i.cast("double")),
    )
    return F.when(
        (pi > 0) & (m > 0) & (k >= 0), out
    ).otherwise(F.lit(None).cast("array<double>"))


def _series_dot(a: Column, b: Column) -> Column:
    return _series_sum(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y)
    )


def _series_cosine(a: Column, b: Column) -> Column:
    denom = F.sqrt(_series_dot(a, a)) * F.sqrt(_series_dot(b, b))
    return F.when(denom > 0, _series_dot(a, b) / denom)


def _array_slice(arr: Column, start: Column, end: Column) -> Column:
    """Kusto array_slice: inclusive [start, end], negative indices
    count from the end; out-of-range windows clamp (empty when the
    normalized window inverts). slice(arr, 1, 0) is the typed-empty
    idiom (keeps the input's element type without naming it)."""
    n = F.size(arr)
    st = (
        F.when(start < 0, F.greatest(n + start, F.lit(0)))
        .otherwise(start)
        .cast("int")
    )
    en = F.least(
        F.when(end < 0, n + end).otherwise(end), (n - 1).cast("bigint")
    ).cast("int")
    return F.when(
        en >= st, F.slice(arr, st + 1, en - st + 1)
    ).otherwise(F.slice(arr, 1, 0))


def _array_split(arr: Column, idxs: Column) -> Column:
    """Kusto array_split: split before each (0-based) index; negative
    indices count from the end, out-of-range clamps, unsorted index
    pairs yield empty segments (length clamps at 0). One nested
    transform — the bounds array is tiny (k+2 entries) so its
    per-element re-evaluation inside the HOF lambda is immaterial."""
    n = F.size(arr).cast("bigint")
    bounds = F.concat(
        F.array(F.lit(0).cast("bigint")),
        F.transform(
            idxs,
            lambda i: F.when(
                i < 0, F.greatest(n + i, F.lit(0))
            ).otherwise(F.least(i.cast("bigint"), n))),
        F.array(n))
    return F.transform(
        F.sequence(F.lit(1), F.size(bounds) - 1),
        lambda j: F.slice(
            arr,
            (F.element_at(bounds, j.cast("int")) + 1).cast("int"),
            F.greatest(
                F.element_at(bounds, (j + 1).cast("int"))
                - F.element_at(bounds, j.cast("int")),
                F.lit(0)).cast("int")))


def _array_rotate(arr: Column, by: Column) -> Column:
    """Rotate left by ``by`` (mod size; negative rotates right).
    pmod sits inside the size guard — ANSI pmod(n, 0) raises."""
    sz = F.size(arr)
    k = F.when(sz > 0, F.pmod(by, sz)).otherwise(F.lit(0)).cast("int")
    return F.when(
        sz > 0,
        F.concat(F.slice(arr, k + 1, sz - k), F.slice(arr, 1, k)),
    ).otherwise(arr)


def _array_shift(arr: Column, by: Column, fill: Column) -> Column:
    """Shift left by ``by`` (negative shifts right), vacated slots take
    ``fill`` (default NULL). The pad rides a transform over a slice of
    the input so it inherits the element type even when ``fill`` is an
    untyped NULL literal (when(false, x).otherwise(fill) types the
    lambda by the common type)."""
    sz = F.size(arr)
    n_ = F.least(F.abs(by), sz.cast("bigint")).cast("int")
    pad = F.transform(
        F.slice(arr, 1, n_),
        lambda x: F.when(F.lit(False), x).otherwise(fill),
    )
    return F.when(
        by >= 0, F.concat(F.slice(arr, n_ + 1, sz - n_), pad)
    ).otherwise(F.concat(pad, F.slice(arr, 1, sz - n_)))


def _countof_overlapping(text: Column, needle: Column) -> Column:
    """Kusto's plain-string countof counts OVERLAPPING occurrences
    (countof('aaa','aa') == 2), unlike the length-difference-after-
    replace formula (non-overlapping). A zero-width lookahead regex
    counts every start position; the needle is literal-quoted with
    Java's \\Q...\\E (any embedded \\E broken out with the standard
    \\E\\\\E\\Q splice) so it works for a data-dependent column, not
    just literals."""
    quoted = F.concat(
        F.lit("(?=\\Q"),
        F.replace(needle, F.lit("\\E"), F.lit("\\E\\\\E\\Q")),
        F.lit("\\E)"))
    return F.when(
        F.length(needle) > 0,
        F.size(F.regexp_extract_all(text, quoted, F.lit(0))),
    ).cast("bigint")


# one 0-255 decimal octet / a full dotted quad (range-checked in the
# pattern itself — _ip2long alone would accept 300.1.1.1)
_OCT_RE = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_V4_RE = rf"{_OCT_RE}\.{_OCT_RE}\.{_OCT_RE}\.{_OCT_RE}"


def _let(val: Column, body) -> Column:
    """let-binding for Column expression trees: evaluate ``val`` once
    and pass the bound result to ``body``. Plain Column composition
    INLINES every reference, so an expression used k times in a
    sub-expression used m times costs k·m copies — exponential across
    a few layers (the first ipv6 build measured 97s at sf0.01 from
    exactly this). Catalyst's higher-order-function lambda variables
    are bound once per row, so wrapping the value in a 1-element array
    and reading it through a transform() lambda gives CSE the
    optimizer doesn't otherwise guarantee. Critical when ``val`` is a
    VARIANT → JSON-text → ``from_json`` re-parse referenced inside an
    ``F.aggregate`` fold: without the binding each fold step re-parses
    the document (kql_geo_polygon measured 49.6 s solo before, 5.2 s
    after, with the literal-polygon compile-time fold contributing
    too)."""
    return F.get(F.transform(F.array(val), body), 0)


def _let2(a: Column, b: Column, body) -> Column:
    """Two-value let-binding via ``zip_with`` (same rationale as
    :func:`_let`)."""
    return F.get(F.zip_with(F.array(a), F.array(b), body), 0)


# Lanczos approximation of ln Γ (g = 7, n = 9) — ~1e-13 relative for
# x > 0.5; the standard public coefficients (Numerical Recipes / Boost)
_LANCZOS = (
    676.5203681218851, -1259.1392167224028, 771.32342877765313,
    -176.61502916214059, 12.507343278686905, -0.13857109526572012,
    9.9843695780195716e-6, 1.5056327351493116e-7,
)


def _lgamma_pos(x: Column) -> Column:
    """ln Γ(x) for x > 0.5 (callers route the rest through the
    reflection formula). Pure arithmetic — codegen, zero shuffle."""
    z = x - 1.0
    a = F.lit(0.99999999999980993)
    for i, c in enumerate(_LANCZOS, start=1):
        a = a + F.lit(c) / (z + i)
    t = z + 7.5
    return (
        F.lit(0.9189385332046727)  # ½·ln(2π)
        + (z + 0.5) * F.log(t) - t + F.log(a))


def _lgamma(x: Column) -> Column:
    """Kusto loggamma — ln |Γ(x)| on the full real line. Reflection
    ln|Γ(x)| = ln(π/|sin πx|) − ln Γ(1−x) below 0.5; NULL at the poles
    (non-positive integers) where Kusto also errors."""
    return _let(x.cast("double"), lambda v: F.when(
        v > 0.5, _lgamma_pos(v)
    ).when(
        v != F.floor(v),
        F.log(F.lit(math.pi) / F.abs(F.sin(F.lit(math.pi) * v)))
        - _lgamma_pos(1.0 - v)))


def _gamma(x: Column) -> Column:
    """Kusto gamma — Γ(x); the reflection form carries the sign for
    negative non-integers, NULL at the poles."""
    return _let(x.cast("double"), lambda v: F.when(
        v > 0.5, F.exp(_lgamma_pos(v))
    ).when(
        v != F.floor(v),
        F.lit(math.pi)
        / (F.sin(F.lit(math.pi) * v) * F.exp(_lgamma_pos(1.0 - v)))))


def _erf(x: Column) -> Column:
    """erf via Abramowitz–Stegun 7.1.26 (max abs error 1.5e-7 —
    property-tested against Python's math.erf; no exact-match oracle
    because neither DuckDB nor Spark exposes a reference erf)."""
    return _let(x.cast("double"), lambda v: _let(
        1.0 / (1.0 + 0.3275911 * F.abs(v)),
        lambda t: F.signum(v) * (
            1.0
            - t * (0.254829592 + t * (-0.284496736 + t * (
                1.421413741 + t * (-1.453152027 + t * 1.061405429))))
            * F.exp(-(v * v)))))


def _betainc_series(a: Column, b: Column, x: Column) -> Column:
    """Regularized incomplete beta I_x(a,b) by the hypergeometric
    series x^a(1-x)^b·Γ(a+b)/(Γ(a)Γ(b)·a) · 2F1(1, a+b; a+1; x)
    (Numerical Recipes 6.4.5's `bt`·series form). Valid and fast only
    for x below the switch point (a+1)/(a+b+2) — `_betainc` routes the
    rest through the symmetry I_x(a,b) = 1 − I_{1−x}(b,a). The series
    runs inside ONE F.aggregate over a constant index sequence, so the
    220 terms cost 220 codegen loop steps, not an exponential
    expression tree (each term reuses the accumulator struct)."""
    front = F.exp(
        a * F.log(x) + b * F.log(1.0 - x)
        + _lgamma_pos(a + b) - _lgamma_pos(a) - _lgamma_pos(b)
        - F.log(a))
    # Horner form of the partial sum — fold the term ratios r_n =
    # (a+b+n-1)/(a+n)·x from the tail: acc = 1 + r_n·acc. One scalar
    # accumulator, no per-step struct (higher-order functions evaluate
    # interpreted per element, so step cost dominates; this is ~3×
    # the two-field struct fold). 128 terms: worst-case ratio at the
    # series/reflection switch is < 0.72, and 0.72¹²⁸ ≈ 5e-19 —
    # below double epsilon of the leading term.
    ser = F.aggregate(
        F.sequence(F.lit(128), F.lit(1), F.lit(-1)),
        F.lit(1.0),
        lambda acc, n: 1.0 + (a + b + n - 1.0) / (a + n) * x * acc)
    return front * ser


def _betainc(a: Column, b: Column, x: Column) -> Column:
    """I_x(a,b) on the full [0,1] domain (a,b > 0; NULL otherwise)."""
    return F.when(
        (a > 0) & (b > 0) & x.isNotNull(),
        F.when(x <= 0.0, F.lit(0.0))
        .when(x >= 1.0, F.lit(1.0))
        .when(x < (a + 1.0) / (a + b + 2.0), _betainc_series(a, b, x))
        .otherwise(1.0 - _betainc_series(b, a, 1.0 - x)))


def _welch_test(m1, v1, n1, m2, v2, n2) -> Column:
    """Two-sided Welch's t-test p-value from the six summary stats
    (Kusto welch_test — mean/variance/count per group). Student-t tail
    via I_{ν/(ν+t²)}(ν/2, ½); ν by Welch–Satterthwaite."""
    se1 = v1.cast("double") / n1.cast("double")
    se2 = v2.cast("double") / n2.cast("double")
    s = se1 + se2
    t2 = (m1.cast("double") - m2.cast("double")) ** 2 / s
    df = (s * s) / (se1 * se1 / (n1.cast("double") - 1.0)
                    + se2 * se2 / (n2.cast("double") - 1.0))
    return F.when(
        (n1 > 1) & (n2 > 1) & (v1 >= 0) & (v2 >= 0) & (s > 0),
        _betainc(df / 2.0, F.lit(0.5), df / (df + t2)))


def _beta_inv(p: Column, a: Column, b: Column) -> Column:
    """Inverse regularized incomplete beta: the x with I_x(a,b) = p
    (Kusto beta_inv). 40 bisection steps on the monotone `_betainc`
    inside ONE F.aggregate — interval shrinks to 2⁻⁴⁰ ≈ 9e-13, below
    any 6-dp comparison. Bisection over Newton because it needs no
    pdf-derivative guard rails at the domain edges; each step embeds
    one `_betainc` call, so cost is ~40×128 interpreted fold steps
    per element — dedupe the (p,a,b) domain before calling this in a
    hot path (same discipline as the beta_cdf gate query)."""
    x = F.aggregate(
        F.sequence(F.lit(1), F.lit(40)),
        F.struct(F.lit(0.0).alias("lo"), F.lit(1.0).alias("hi")),
        lambda acc, n: F.struct(
            F.when(_betainc(a, b, (acc["lo"] + acc["hi"]) / 2.0) <= p,
                   (acc["lo"] + acc["hi"]) / 2.0)
            .otherwise(acc["lo"]).alias("lo"),
            F.when(_betainc(a, b, (acc["lo"] + acc["hi"]) / 2.0) <= p,
                   acc["hi"])
            .otherwise((acc["lo"] + acc["hi"]) / 2.0).alias("hi")),
        lambda acc: (acc["lo"] + acc["hi"]) / 2.0)
    return F.when(
        (a > 0) & (b > 0) & p.isNotNull(),
        F.when(p <= 0.0, F.lit(0.0))
        .when(p >= 1.0, F.lit(1.0))
        .otherwise(x))


# .NET/Kusto GUIDs serialize mixed-endian (RFC 4122 text, but the
# first three fields little-endian in the 16-byte form —
# Guid.ToByteArray). These reorder between the canonical hex text and
# the byte-array hex so base64_encode_fromguid/base64_decode_toguid
# match Kusto bit-for-bit.
def _guid_hex_to_bytes_hex(g: Column) -> Column:
    h = F.lower(F.replace(g, F.lit("-"), F.lit("")))
    return F.concat(
        F.substring(h, 7, 2), F.substring(h, 5, 2),
        F.substring(h, 3, 2), F.substring(h, 1, 2),
        F.substring(h, 11, 2), F.substring(h, 9, 2),
        F.substring(h, 15, 2), F.substring(h, 13, 2),
        F.substring(h, 17, 16))


def _bytes_hex_to_guid(h: Column) -> Column:
    return F.concat_ws(
        "-",
        F.concat(F.substring(h, 7, 2), F.substring(h, 5, 2),
                 F.substring(h, 3, 2), F.substring(h, 1, 2)),
        F.concat(F.substring(h, 11, 2), F.substring(h, 9, 2)),
        F.concat(F.substring(h, 15, 2), F.substring(h, 13, 2)),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12))


# unit-conversion factor tables (convert_* family, scalarfunctions.md):
# value × factor[from] / factor[to] in a base unit. Unit names are the
# documented Kusto enums (case-sensitive); unknown units yield NULL.
_CONVERT_UNITS: dict[str, dict[str, float]] = {
    "angle": {  # base: radian
        "Radian": 1.0, "Degree": 3.141592653589793 / 180,
        "Gradian": 3.141592653589793 / 200,
        "Revolution": 2 * 3.141592653589793,
        "Arcminute": 3.141592653589793 / 10800,
        "Arcsecond": 3.141592653589793 / 648000,
        "Centiradian": 1e-2, "Deciradian": 1e-1,
        "Milliradian": 1e-3, "Microradian": 1e-6,
        "Nanoradian": 1e-9,
        "Microdegree": 3.141592653589793 / 180 * 1e-6,
        "Millidegree": 3.141592653589793 / 180 * 1e-3,
        "Nanodegree": 3.141592653589793 / 180 * 1e-9,
        "NatoMil": 2 * 3.141592653589793 / 6400,
    },
    "energy": {  # base: joule
        "Joule": 1.0, "Kilojoule": 1e3, "Megajoule": 1e6,
        "Gigajoule": 1e9, "Millijoule": 1e-3,
        "BritishThermalUnit": 1055.05585262, "Calorie": 4.184,
        "Kilocalorie": 4184.0, "WattHour": 3600.0,
        "KilowattHour": 3.6e6, "MegawattHour": 3.6e9,
        "GigawattHour": 3.6e12, "ElectronVolt": 1.602176634e-19,
        "Erg": 1e-7, "FootPound": 1.3558179483314004,
        "ThermUs": 1.054804e8,
    },
    "force": {  # base: newton
        "Newton": 1.0, "Kilonewton": 1e3, "Meganewton": 1e6,
        "Micronewton": 1e-6, "Millinewton": 1e-3, "Decanewton": 10.0,
        "KilogramForce": 9.80665, "TonneForce": 9806.65,
        "PoundForce": 4.4482216152605,
        "OunceForce": 0.27801385095378125, "Poundal": 0.138254954376,
        "Dyn": 1e-5, "ShortTonForce": 8896.443230521,
        "KiloPond": 9.80665,
    },
    "length": {  # base: meter
        "Meter": 1.0, "Kilometer": 1e3, "Hectometer": 1e2,
        "Decameter": 10.0, "Decimeter": 0.1, "Centimeter": 1e-2,
        "Millimeter": 1e-3, "Micrometer": 1e-6, "Nanometer": 1e-9,
        "Mile": 1609.344, "NauticalMile": 1852.0, "Yard": 0.9144,
        "Foot": 0.3048, "Inch": 0.0254, "Mil": 2.54e-5,
        "Microinch": 2.54e-8, "AstronomicalUnit": 1.495978707e11,
        "LightYear": 9.4607304725808e15, "Parsec": 3.08567758128e16,
        "Angstrom": 1e-10, "Fathom": 1.8288, "Hand": 0.1016,
        "Chain": 20.1168, "UsSurveyFoot": 1200.0 / 3937.0,
    },
    "mass": {  # base: kilogram
        "Kilogram": 1.0, "Gram": 1e-3, "Milligram": 1e-6,
        "Microgram": 1e-9, "Nanogram": 1e-12, "Centigram": 1e-5,
        "Decigram": 1e-4, "Decagram": 1e-2, "Hectogram": 0.1,
        "Tonne": 1e3, "Pound": 0.45359237, "Ounce": 0.028349523125,
        "Stone": 6.35029318, "ShortTon": 907.18474,
        "LongTon": 1016.0469088, "Grain": 6.479891e-5,
        "Slug": 14.59390294,
    },
    "speed": {  # base: meter/second
        "MeterPerSecond": 1.0, "KilometerPerHour": 1.0 / 3.6,
        "MilePerHour": 0.44704, "Knot": 1852.0 / 3600.0,
        "FootPerSecond": 0.3048, "CentimeterPerSecond": 1e-2,
        "MillimeterPerSecond": 1e-3, "KilometerPerSecond": 1e3,
        "MeterPerMinute": 1.0 / 60.0,
        "KilometerPerMinute": 1000.0 / 60.0,
        "InchPerSecond": 0.0254, "YardPerSecond": 0.9144,
    },
    "volume": {  # base: cubic meter
        "CubicMeter": 1.0, "Liter": 1e-3, "Milliliter": 1e-6,
        "Centiliter": 1e-5, "Deciliter": 1e-4, "Hectoliter": 0.1,
        "CubicKilometer": 1e9, "CubicCentimeter": 1e-6,
        "CubicMillimeter": 1e-9, "CubicFoot": 0.028316846592,
        "CubicInch": 1.6387064e-5, "CubicYard": 0.764554857984,
        "CubicMile": 4168181825.440579584,
        "UsGallon": 0.003785411784, "UsQuart": 0.000946352946,
        "UsPint": 0.000473176473, "UsOunce": 2.95735295625e-5,
        "ImperialGallon": 0.00454609, "ImperialPint": 0.00056826125,
        "ImperialOunce": 2.84130625e-5,
        "UsTablespoon": 1.478676478125e-5,
        "UsTeaspoon": 4.92892159375e-6, "MetricCup": 2.5e-4,
        "UsCustomaryCup": 2.365882365e-4,
    },
}


def _convert_unit(kind: str, value: Column, frm: Column,
                  to: Column) -> Column:
    """convert_<kind>(value, from, to) — factor-table linear
    conversion; temperature is affine and handled separately."""
    table = _CONVERT_UNITS[kind]
    pairs: list[Column] = []
    for k, v in table.items():
        pairs += [F.lit(k), F.lit(float(v))]
    m = F.create_map(*pairs)
    return (value.cast("double")
            * F.try_element_at(m, frm.cast("string"))
            / F.try_element_at(m, to.cast("string")))


# temperature: kelvin = value·slope + offset per unit
_TEMPERATURE_UNITS: dict[str, tuple[float, float]] = {
    "Kelvin": (1.0, 0.0),
    "DegreeCelsius": (1.0, 273.15),
    "DegreeFahrenheit": (5.0 / 9.0, 459.67 * 5.0 / 9.0),
    "DegreeRankine": (5.0 / 9.0, 0.0),
    "DegreeDelisle": (-2.0 / 3.0, 373.15),
    "DegreeNewton": (100.0 / 33.0, 273.15),
    "DegreeReaumur": (5.0 / 4.0, 273.15),
    "DegreeRoemer": (40.0 / 21.0, 273.15 - 7.5 * 40.0 / 21.0),
    "MillidegreeCelsius": (1e-3, 273.15),
}


def _convert_temperature(value: Column, frm: Column,
                         to: Column) -> Column:
    sl, of = [], []
    for k, (s, o) in _TEMPERATURE_UNITS.items():
        sl += [F.lit(k), F.lit(s)]
        of += [F.lit(k), F.lit(o)]
    ms, mo = F.create_map(*sl), F.create_map(*of)
    f, t = frm.cast("string"), to.cast("string")
    kelvin = (value.cast("double") * F.try_element_at(ms, f)
              + F.try_element_at(mo, f))
    return ((kelvin - F.try_element_at(mo, t))
            / F.try_element_at(ms, t))


_GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_encode(lon: Column, lat: Column, acc: int) -> Column:
    """geo_point_to_geohash — standard base-32 geohash (bit-interleave
    lon-first). Accuracy is a literal 1..18 (Kusto's bound); the whole
    encode unrolls to fixed shift/mask arithmetic at parse time —
    codegen only, no Python, no lookup joins."""
    total = 5 * acc
    lonbits = (total + 1) // 2
    latbits = total // 2
    loni = F.least(
        F.floor((lon.cast("double") + 180.0) / 360.0
                * F.lit(float(2 ** lonbits))).cast("bigint"),
        F.lit(2 ** lonbits - 1))
    lati = F.least(
        F.floor((lat.cast("double") + 90.0) / 180.0
                * F.lit(float(2 ** latbits))).cast("bigint"),
        F.lit(2 ** latbits - 1))
    alph = F.array(*[F.lit(c) for c in _GEOHASH_B32])
    chars = []
    for j in range(acc):
        val: Column | None = None
        for u in range(5):
            t = 5 * j + u  # global interleaved-stream bit index
            if t % 2 == 0:  # even stream positions carry longitude
                bit = F.shiftright(
                    loni, lonbits - 1 - t // 2).bitwiseAND(F.lit(1))
            else:
                bit = F.shiftright(
                    lati, latbits - 1 - (t - 1) // 2
                ).bitwiseAND(F.lit(1))
            contrib = bit * F.lit(1 << (4 - u))
            val = contrib if val is None else val + contrib
        chars.append(F.get(alph, val.cast("int")))
    return F.when(
        lon.cast("double").between(-180.0, 180.0)
        & lat.cast("double").between(-90.0, 90.0),
        F.concat(*chars))


def _geohash_decode(gh: Column) -> Column:
    """geo_geohash_to_central_point — cell-center GeoJSON Point bag.
    Runtime-length decode: one F.aggregate over the character index
    sequence, carrying (lonIdx, latIdx, lonbits, latbits). Even
    characters contribute 3 lon + 2 lat bits, odd the reverse."""
    s = F.lower(gh.cast("string"))
    idx = F.sequence(F.lit(0), F.length(s) - 1)

    def step(st: Column, j: Column) -> Column:
        v = (F.position(F.substring(s, j + 1, F.lit(1)),
                        F.lit(_GEOHASH_B32)) - 1).cast("bigint")
        b = [F.shiftright(v, 4 - u).bitwiseAND(F.lit(1))
             for u in range(5)]
        even = j % 2 == 0
        lon_add = F.when(even, b[0] * 4 + b[2] * 2 + b[4]) \
            .otherwise(b[1] * 2 + b[3])
        lat_add = F.when(even, b[1] * 2 + b[3]) \
            .otherwise(b[0] * 4 + b[2] * 2 + b[4])
        nlon = F.when(even, F.lit(3)).otherwise(F.lit(2))
        nlat = F.when(even, F.lit(2)).otherwise(F.lit(3))
        return F.struct(
            (st["lon"] * F.when(even, 8).otherwise(4) + lon_add
             ).alias("lon"),
            (st["lat"] * F.when(even, 4).otherwise(8) + lat_add
             ).alias("lat"),
            (st["nlon"] + nlon).alias("nlon"),
            (st["nlat"] + nlat).alias("nlat"),
            # any invalid character poisons the whole hash
            (st["ok"] & (v >= 0)).alias("ok"))

    dec = F.aggregate(
        idx,
        F.struct(F.lit(0).cast("bigint").alias("lon"),
                 F.lit(0).cast("bigint").alias("lat"),
                 F.lit(0).alias("nlon"), F.lit(0).alias("nlat"),
                 F.lit(True).alias("ok")),
        step,
        lambda st: F.when(
            st["ok"] & (st["nlon"] > 0),
            F.struct(
                ((st["lon"].cast("double") + 0.5)
                 / F.pow(F.lit(2.0), st["nlon"]) * 360.0 - 180.0
                 ).alias("x"),
                ((st["lat"].cast("double") + 0.5)
                 / F.pow(F.lit(2.0), st["nlat"]) * 180.0 - 90.0
                 ).alias("y"))))
    bag = F.when(dec.isNotNull(), F.struct(
        F.lit("Point").alias("type"),
        F.array(dec["x"], dec["y"]).alias("coordinates")))
    return F.parse_json(F.to_json(bag))


def _series_dft(re_in: Column, im_in: Column, sign: float,
                scale_by_n: bool) -> Column:
    """Direct O(n²) DFT as pure array arithmetic (series_fft /
    series_ifft). Series here are short windowed vectors (make-series
    bins), so n² stays tiny per row and everything remains in
    whole-stage codegen — no Python seam, no shuffle. Returns a
    {re:[…], im:[…]} bag (this engine's shape for Kusto's two-output
    multi-assign, like series_fit_2lines_dynamic)."""
    n = F.size(re_in)
    tau = F.lit(sign * 2.0 * math.pi) / n.cast("double")

    def comp(part: str) -> Column:
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda k: F.aggregate(
                F.zip_with(
                    re_in, im_in, lambda r, i: F.struct(
                        r.cast("double").alias("r"),
                        F.coalesce(i.cast("double"),
                                   F.lit(0.0)).alias("i"))),
                F.struct(F.lit(0.0).alias("s"),
                         F.lit(0).alias("j")),
                lambda st, e: F.struct(
                    (st["s"] + (
                        e["r"] * F.cos(tau * k * st["j"])
                        - e["i"] * F.sin(tau * k * st["j"])
                        if part == "re" else
                        e["r"] * F.sin(tau * k * st["j"])
                        + e["i"] * F.cos(tau * k * st["j"])
                    )).alias("s"),
                    (st["j"] + 1).alias("j")),
                lambda st: st["s"] / (n.cast("double")
                                      if scale_by_n else F.lit(1.0))))
    bag = F.struct(comp("re").alias("re"), comp("im").alias("im"))
    return F.parse_json(F.to_json(bag))


def _ipv6_group_vals(s: Column) -> Column:
    """16-bit group values (array<bigint>, length 8) of an IPv6 string
    in any RFC-4291 text form — full, ``::``-compressed, embedded-IPv4
    tail — or a bare dotted quad (IPv4-mapped ``::ffff:a.b.c.d``,
    Kusto's rule). NULL when malformed (bad hex, >8 groups, multiple
    or misplaced ``::``, out-of-range IPv4 octets). Pure codegen —
    regex normalize + split/filter/transform, no UDF, zero shuffle."""
    def norm_v4(s1: Column) -> Column:
        # embedded IPv4 tail → two trailing hex groups
        return _let(
            F.regexp_extract(s1, f":({_V4_RE})$", 1),
            lambda v4: F.when(v4 == "", s1).otherwise(F.concat(
                F.regexp_replace(s1, f"{_V4_RE}$", ""),
                _let(_ip2long(v4), lambda n4: F.concat(
                    F.lower(F.lpad(F.hex(F.floor(n4 / 65536)), 4, "0")),
                    F.lit(":"),
                    F.lower(F.lpad(F.hex(n4 % 65536), 4, "0")))))))

    def parse(s2: Column) -> Column:
        # a dot surviving normalization = IPv4 somewhere other than
        # the tail — malformed
        no_dot = ~s2.contains(".")
        return _let(F.split(s2, "::", -1),
                    lambda dparts: with_parts(no_dot, dparts))

    def with_parts(no_dot: Column, dparts: Column) -> Column:
        ndp = F.size(dparts)
        head_s = F.element_at(dparts, 1)
        tail_s = F.when(ndp == 2, F.element_at(dparts, 2)).otherwise(
            F.lit(""))
        seg_ok = lambda x: (x == "") | (  # noqa: E731
            ~x.startswith(":") & ~x.endswith(":"))
        shape_ok = (
            (ndp <= 2) & no_dot & seg_ok(head_s) & seg_ok(tail_s))
        has_dc = ndp == 2
        return _let2(
            F.filter(F.split(head_s, ":"), lambda g: g != ""),
            F.filter(F.split(tail_s, ":"), lambda g: g != ""),
            lambda head, tail: with_halves(
                shape_ok, has_dc, head, tail))

    def with_halves(shape_ok, has_dc, head, tail) -> Column:
        nmiss = F.lit(8) - F.size(head) - F.size(tail)
        zeros = F.array_repeat(F.lit("0"), F.greatest(nmiss, F.lit(0)))
        groups = F.when(has_dc, F.concat(head, zeros, tail)).otherwise(
            head)
        valid_miss = shape_ok & (~has_dc | (nmiss >= 1))
        return _let(groups, lambda gs: F.when(
            valid_miss & (F.size(gs) == 8)
            & F.forall(gs, lambda g: g.rlike("^[0-9a-fA-F]{1,4}$")),
            F.transform(gs, lambda g: F.conv(g, 16, 10).cast("bigint"))))

    s0 = F.trim(s)
    return _let(
        _let(
            F.when(s0.rlike(f"^{_V4_RE}$"),
                   F.concat(F.lit("::ffff:"), s0)).otherwise(s0),
            norm_v4),
        parse)


def _ipv6_canon_from_groups(groups: Column, pi: Column) -> Column:
    """Canonical 8-group zero-padded lowercase text from 16-bit group
    values with host bits below ``pi`` cleared. Masking is group-wise:
    group i keeps clamp(pi − 16i, 0, 16) leading bits —
    ``g - g % 2^(16-keep)`` with the block size bound once per
    element. Shared by ``parse_ipv6[_mask]`` and the ``ipv6_lookup``
    plugin (which parses each distinct IP's groups ONCE and derives
    every mask-length candidate from them)."""
    return F.array_join(
        F.transform(
            groups,
            lambda g, i: _let(
                F.pow(
                    F.lit(2.0),
                    16 - F.greatest(F.least(pi - 16 * i, F.lit(16)),
                                    F.lit(0))).cast("bigint"),
                lambda blk: F.lower(F.lpad(F.hex(g - g % blk), 4, "0")))),
        ":")


def _parse_ipv6_masked(s: Column, prefix: Column) -> Column:
    """Canonical 8-group zero-padded lowercase form with host bits
    below ``prefix`` cleared (Kusto parse_ipv6 / parse_ipv6_mask)."""
    pi = prefix.cast("int")
    canon = _ipv6_canon_from_groups(_ipv6_group_vals(s), pi)
    return F.when(pi.between(0, 128), canon)


def _ipv6_cmp(a: Column, b: Column, prefix: Column) -> Column:
    """ipv6_compare — the canonical form is fixed-width zero-padded
    hex, so string order IS numeric order; NULL when either side is
    malformed. Both canonical forms are let-bound so the three-way
    comparison costs one parse per side, not three."""
    return _let2(
        _parse_ipv6_masked(a, prefix),
        _parse_ipv6_masked(b, prefix),
        lambda ca, cb: (
            F.when(ca == cb, 0)
            .when(ca < cb, -1)
            .when(ca > cb, 1)
            .cast("bigint")))


def _ipv6_is_match(a: Column, b: Column, prefix: Column) -> Column:
    """ipv6_is_match — operands may carry an inline ``/suffix``; the
    effective prefix is the smallest of the suffixes present and the
    explicit argument (Kusto's rule)."""
    def suffix(parts: Column) -> Column:
        return F.coalesce(
            F.try_element_at(parts, F.lit(2)).try_cast("int"),
            F.lit(128))

    return _let2(
        F.split(a, "/"), F.split(b, "/"),
        lambda pa, pb: _ipv6_cmp(
            F.element_at(pa, 1), F.element_at(pb, 1),
            F.least(suffix(pa), suffix(pb), prefix.cast("int"))) == 0)


def _orderable_type(dt) -> bool:
    """True when Spark can ORDER values of this type (min/max/sort).
    Maps and VARIANT are unorderable; arrays/structs inherit from
    their element/field types. Used to build tie-break structs that
    exclude bag columns (common in this engine's tables) — a bare
    min(struct(*)) fails analysis the moment any column is a map."""
    from pyspark.sql import types as T
    if isinstance(dt, T.MapType) or dt.typeName() == "variant":
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable_type(f.dataType) for f in dt.fields)
    return True


def _b64_to_bytes(s: Column) -> Column:
    """base64 string → array<long> of byte values. Byte-safe (non-UTF8
    payloads included) via the hex detour: unbase64 → hex string → one
    long per 2-hex-char pair. Narrow transform, no shuffle."""
    hx = F.hex(F.unbase64(s))
    body = F.transform(
        F.sequence(F.lit(1), (F.length(hx) / 2).cast("int")),
        lambda i: F.conv(F.substring(hx, i * 2 - 1, 2), 16, 10)
        .cast("bigint"))
    # sequence(1, 0) counts DOWN — empty input needs the explicit branch
    return F.when(F.length(hx) == 0,
                  F.array().cast("array<bigint>")).otherwise(body)


# ---------------------------------------------------------------------------
# builtin function registry
# ---------------------------------------------------------------------------

# name → (min_args, max_args or None when variadic, builder), see the
# module docstring; the column tables name aliases in one key.
_FUNCS: dict[str, tuple] = {}


def _registry(table: dict, kind: str):
    """The ``(names, lo, hi)`` decorator of ``table``: it registers the
    decorated function under each space-separated name, each name
    once."""
    def register(names: str, lo: int, hi: int | None):
        def reg(fn):
            for n in names.split():
                if n in table:
                    raise ValueError(f"{kind} {n}() registered twice")
                table[n] = (lo, hi, fn)
            return fn
        return reg
    return register


_builtin = _registry(_FUNCS, "builtin")


def _check_arity(name: str, n: int, lo: int, hi: int | None) -> None:
    """The one argument-count rule for builtins, user functions and
    scan expressions."""
    if n < lo or (hi is not None and n > hi):
        want = lo if lo == hi else f"{lo}..{'' if hi is None else hi}"
        raise KqlError(f"{name}() takes {want} argument(s), got {n}")


_FUNC_MAP_SIMPLE = {
    # text (text_scalar_expression.rs:7-22)
    "strlen len": (1, 1, lambda a: F.length(a[0])),
    "strcat": (1, None, lambda a: F.concat(*a)),
    "replace_string": (3, 3, lambda a: F.replace(a[0], a[1], a[2])),
    "tolower": (1, 1, lambda a: F.lower(a[0])),
    "toupper": (1, 1, lambda a: F.upper(a[0])),
    # conversion (convert_scalar_expression.rs:7-24)
    # (+ the Kusto typed-literal constructors `long(null)`, `real(4)`,
    # `bool(…)`: a cast superset — Kusto only allows literals inside;
    # datetime(…) stays a tokenizer literal and never reaches this map;
    # `int`, `double` and `string` are the OTTL converter aliases)
    "tobool bool": (1, 1, lambda a: a[0].cast("boolean")),
    "toint": (1, 1, lambda a: a[0].cast("int")),
    "tolong long": (1, 1, lambda a: a[0].cast("bigint")),
    "todouble toreal tofloat real": (1, 1, lambda a: a[0].cast("double")),
    "tostring string": (1, 1, lambda a: a[0].cast("string")),
    "todatetime": (1, 1, lambda a: a[0].cast("timestamp")),
    # scalar range(start, stop[, step]) — inclusive numeric series
    "range": (2, 3, _scalar_range),
    # conditional (scalar_expressions.rs:26-38)
    "iff iif": (3, 3, lambda a: F.when(a[0], a[1]).otherwise(a[2])),
    "coalesce": (1, None, lambda a: F.coalesce(*a)),
    "isnull": (1, 1, lambda a: a[0].isNull()),
    "isnotnull": (1, 1, lambda a: a[0].isNotNull()),
    "isempty": (1, 1, lambda a: a[0].isNull() | (a[0] == "")),
    "isnotempty": (1, 1, lambda a: a[0].isNotNull() & (a[0] != "")),
    "not": (1, 1, lambda a: ~a[0]),
    # math (math_scalar_expression.rs:7-34)
    "ceiling": (1, 1, lambda a: F.ceil(a[0])),
    "abs": (1, 1, lambda a: F.abs(a[0])),
    "exp": (1, 1, lambda a: F.exp(a[0])),
    "gamma": (1, 1, lambda a: _gamma(a[0])),
    "loggamma": (1, 1, lambda a: _lgamma(a[0])),
    "erf": (1, 1, lambda a: _erf(a[0])),
    "erfc": (1, 1, lambda a: 1.0 - _erf(a[0])),
    "log": (1, 1, lambda a: F.log(a[0])),
    "sqrt": (1, 1, lambda a: F.sqrt(a[0])),
    "pow": (2, 2, lambda a: F.pow(a[0], a[1])),
    # parse_json (VARIANT result) is an ExprParser @_builtin method
    # temporal (temporal_scalar_expression.rs:7-10)
    "now": (0, 0, lambda a: F.current_timestamp()),
    "ago": (1, 1, lambda a: F.current_timestamp() - a[0]),
    "startofday": (1, 1, lambda a: F.date_trunc("day", a[0])),
    "startofhour": (1, 1, lambda a: F.date_trunc("hour", a[0])),
    # collection (collection_scalar_expression.rs:7-13)
    "array_length": (1, 1, lambda a: F.size(a[0])),
    "pack_array": (1, None, lambda a: F.array(*a)),
    # math (cont.)
    "sign": (1, 1, lambda a: F.signum(a[0])),
    "log2": (1, 1, lambda a: F.log2(a[0])),
    "log10": (1, 1, lambda a: F.log10(a[0])),
    "exp2": (1, 1, lambda a: F.pow(F.lit(2.0), a[0])),
    "exp10": (1, 1, lambda a: F.pow(F.lit(10.0), a[0])),
    "pi": (0, 0, lambda a: F.lit(3.141592653589793)),
    "cos": (1, 1, lambda a: F.cos(a[0])),
    "sin": (1, 1, lambda a: F.sin(a[0])),
    "tan": (1, 1, lambda a: F.tan(a[0])),
    "atan": (1, 1, lambda a: F.atan(a[0])),
    "acos": (1, 1, lambda a: F.acos(a[0])),
    "asin": (1, 1, lambda a: F.asin(a[0])),
    "atan2": (2, 2, lambda a: F.atan2(a[0], a[1])),
    # has_ipv4 family — token-delimited, octet-validated text scan
    # (see _ipv4_tokens); has_any_ipv4 takes the candidates as
    # trailing scalar args (the dynamic-array form is the same
    # fold spelled by the caller)
    "has_ipv4": (2, 2, lambda a: F.exists(
        _ipv4_tokens(a[0]), lambda t: t == a[1].cast("string"))),
    "has_ipv4_prefix": (2, 2, lambda a: F.exists(
        _ipv4_tokens(a[0]),
        lambda t: F.startswith(t, a[1].cast("string")))),
    "has_any_ipv4": (2, None, lambda a: F.exists(
        _ipv4_tokens(a[0]),
        lambda t: reduce(lambda acc, ip: acc | (t == ip.cast("string")),
                         a[2:], t == a[1].cast("string")))),
    "has_any_ipv4_prefix": (2, None, lambda a: F.exists(
        _ipv4_tokens(a[0]),
        lambda t: reduce(
            lambda acc, p: acc | F.startswith(t, p.cast("string")),
            a[2:], F.startswith(t, a[1].cast("string"))))),
    # zlib/gzip ↔ base64 codec quartet (Arrow-batched seam, see
    # _b64_codec_udf)
    "zlib_compress_to_base64_string": (1, 1, lambda a:
        _zlib_compress_b64(a[0].cast("string"))),
    "zlib_decompress_from_base64_string": (1, 1, lambda a:
        _zlib_decompress_b64(a[0].cast("string"))),
    "gzip_compress_to_base64_string": (1, 1, lambda a:
        _gzip_compress_b64(a[0].cast("string"))),
    "gzip_decompress_from_base64_string": (1, 1, lambda a:
        _gzip_decompress_b64(a[0].cast("string"))),
    # RFC 3492 punycode quartet — same sanctioned codec seam; Kusto
    # returns '' on codec failure (not null), the helpers match
    "punycode_from_string": (1, 1, lambda a:
        _punycode_from_string(a[0].cast("string"))),
    "punycode_to_string": (1, 1, lambda a:
        _punycode_to_string(a[0].cast("string"))),
    "punycode_domain_from_string": (1, 1, lambda a:
        _punycode_domain_from_string(a[0].cast("string"))),
    "punycode_domain_to_string": (1, 1, lambda a:
        _punycode_domain_to_string(a[0].cast("string"))),
    # assert(cond[, msg]) — true, or fail the query (Kusto semantics);
    # assert_true yields NULL on pass, so coalesce restores the bool
    "assert": (1, 2, lambda a: F.coalesce(
        F.assert_true(
            a[0].cast("boolean"),
            a[1] if len(a) > 1 else F.lit("assert failed"),
        ).cast("boolean"),
        F.lit(True))),
    # has_any_index(source, values) — 0-based index of the first value
    # that matches source as a whole TERM (`has` boundary regex,
    # runtime-escaped), -1 when none match or the array is empty
    "has_any_index": (2, 2, lambda a: F.when(
        F.size(a[1]) > 0,
        F.coalesce(
            F.try_element_at(
                F.filter(
                    F.sequence(F.lit(0), F.size(a[1]) - 1),
                    lambda i: F.regexp_like(
                        a[0].cast("string"),
                        F.concat(
                            F.lit("(?i)(^|[^a-zA-Z0-9])"),
                            F.regexp_replace(
                                F.element_at(a[1], i.cast("int") + 1)
                                .cast("string"),
                                "([^a-zA-Z0-9])", r"\\$1"),
                            F.lit("($|[^a-zA-Z0-9])")))),
                F.lit(1)),
            F.lit(-1))
    ).otherwise(F.lit(-1)).cast("long")),
    "degrees": (1, 1, lambda a: F.degrees(a[0])),
    "radians": (1, 1, lambda a: F.radians(a[0])),
    "isnan": (1, 1, lambda a: F.isnan(a[0].cast("double"))),
    "isfinite": (1, 1, lambda a: ~(
        F.isnan(a[0].cast("double"))
        | (F.abs(a[0].cast("double")) == float("inf"))
    )),
    "isinf": (1, 1, lambda a: F.abs(a[0].cast("double")) == float("inf")),
    # around(x, center, delta) — KQL proximity predicate
    "around": (3, 3, lambda a: F.abs(a[0] - a[1]) <= a[2]),
    # text (cont.)
    "reverse array_reverse": (1, 1, lambda a: F.reverse(a[0])),
    "strrep": (2, 2, lambda a: F.repeat(a[0], a[1])),
    "tohex": (1, 1, lambda a: F.lower(F.hex(a[0]))),
    # temporal (cont.) — startofweek truncates to MONDAY (the Spark /
    # ISO / DuckDB convention; KQL's Sunday week start is a documented
    # deviation), dayofweek counts days since Monday 0..6 accordingly
    "startofweek": (1, 1, lambda a: F.date_trunc("week", a[0])),
    # endofweek = last microsecond of the ISO week startofweek opened
    "endofweek": (1, 1, lambda a: F.timestamp_add(
        "MICROSECOND", F.lit(-1),
        F.timestamp_add("DAY", F.lit(7), F.date_trunc("week", a[0])),
    )),
    "startofmonth": (1, 1, lambda a: F.date_trunc("month", a[0])),
    # end-of-period twins (same convention as endofweek: last
    # microsecond before the next period starts)
    "endofday": (1, 1, lambda a: F.timestamp_add(
        "MICROSECOND", F.lit(-1),
        F.timestamp_add("DAY", F.lit(1), F.date_trunc("day", a[0])),
    )),
    "endofmonth": (1, 1, lambda a: F.timestamp_add(
        "MICROSECOND", F.lit(-1),
        F.timestamp_add("MONTH", F.lit(1), F.date_trunc("month", a[0])),
    )),
    "monthofyear getmonth": (1, 1, lambda a: F.month(a[0]).cast("bigint")),
    "startofyear": (1, 1, lambda a: F.date_trunc("year", a[0])),
    "endofyear": (1, 1, lambda a: F.timestamp_add(
        "MICROSECOND", F.lit(-1),
        F.timestamp_add("YEAR", F.lit(1), F.date_trunc("year", a[0])),
    )),
    "startofquarter": (1, 1, lambda a: F.date_trunc("quarter", a[0])),
    "endofquarter": (1, 1, lambda a: F.timestamp_add(
        "MICROSECOND", F.lit(-1),
        F.timestamp_add(
            "QUARTER", F.lit(1), F.date_trunc("quarter", a[0])),
    )),
    "week_of_year": (1, 1, lambda a: F.weekofyear(a[0]).cast("bigint")),
    "make_datetime": (3, 6, lambda a: F.make_timestamp_ntz(
        a[0].cast("int"), a[1].cast("int"), a[2].cast("int"),
        (a[3] if len(a) > 3 else F.lit(0)).cast("int"),
        (a[4] if len(a) > 4 else F.lit(0)).cast("int"),
        (a[5] if len(a) > 5 else F.lit(0)).cast("double"),
    )),
    "unixtime_seconds_todatetime": (1, 1, lambda a: F.timestamp_seconds(
        a[0]
    ).cast("timestamp_ntz")),
    "unixtime_milliseconds_todatetime": (1, 1, lambda a: F.timestamp_millis(
        a[0].cast("bigint")).cast("timestamp_ntz")),
    "unixtime_microseconds_todatetime": (1, 1, lambda a: F.timestamp_micros(
        a[0].cast("bigint")).cast("timestamp_ntz")),
    # ns → µs via decimal division: a double round-trip would lose
    # precision above 2^53 ns (~104 days), so divide exactly
    "unixtime_nanoseconds_todatetime": (1, 1, lambda a: F.timestamp_micros(
        F.floor(a[0].cast("decimal(38,0)") / 1000).cast("bigint")
    ).cast("timestamp_ntz")),
    "base64_encode_tostring": (1, 1, lambda a: F.base64(a[0].cast("binary"))),
    "base64_decode_tostring": (1, 1, lambda a:
        F.unbase64(a[0]).cast("string")),
    # base64 ↔ dynamic byte-array pair (scalarfunctions.md). The array
    # form goes through the hex rendering so non-UTF8 bytes survive:
    # binary → hex pairs → long per byte (and back). Pure codegen.
    "base64_decode_toarray": (1, 1, lambda a: _b64_to_bytes(a[0])),
    "base64_encode_fromarray": (1, 1, lambda a: F.base64(F.unhex(F.array_join(
        F.transform(a[0], lambda b: F.lpad(F.hex(b.cast("bigint")
                                                 % 256), 2, "0")),
        "")))),
    "isascii": (1, 1, lambda a: ~a[0].rlike("[^\\x00-\\x7f]")),
    # regex_quote: backslash-escape every regex metacharacter (Kusto
    # returns a pattern matching the literal string). $1 backref with a
    # literal backslash prefix in the rewrite.
    "regex_quote": (1, 1, lambda a: F.regexp_replace(
        a[0], r"([.^$*+?()\[\]{}|\\])", r"\\$1")),
    # IPv6 quartet (scalarfunctions.md): canonical-form parse ± mask,
    # three-way compare, prefix match — accepts every RFC-4291 text
    # form plus bare IPv4 (mapped), all pure codegen
    "parse_ipv6": (1, 1, lambda a: _parse_ipv6_masked(a[0], F.lit(128))),
    "parse_ipv6_mask": (2, 2, lambda a: _parse_ipv6_masked(a[0], a[1])),
    # ipv6_is_in_range(ip, 'cidr') — membership per the range's
    # suffix; an inline suffix on the ip narrows further (min rule,
    # identical to ipv6_is_match with the 128 default), so the range
    # pair IS the match pair. *_any_range folds over the tail args.
    "ipv6_is_in_range": (2, 2, lambda a: _ipv6_is_match(
        a[0].cast("string"), a[1].cast("string"), F.lit(128))),
    "ipv6_is_in_any_range": (2, None, lambda a: reduce(
        lambda acc, r: acc | _ipv6_is_match(
            a[0].cast("string"), r.cast("string"), F.lit(128)),
        a[2:],
        _ipv6_is_match(a[0].cast("string"), a[1].cast("string"),
                       F.lit(128)))),
    "ipv6_compare": (2, 3, lambda a: _ipv6_cmp(
        a[0], a[1], a[2] if len(a) > 2 else F.lit(128))),
    "ipv6_is_match": (2, 3, lambda a: _ipv6_is_match(
        a[0], a[1], a[2] if len(a) > 2 else F.lit(128))),
    # ipv4_compare(a, b[, prefix]) — sign of the numeric difference
    # under the shared prefix mask; NULL when either side is malformed
    "ipv4_compare": (2, 3, lambda a: F.signum(
        (_parse_ipv4_masked(a[0], (a[2] if len(a) > 2 else F.lit(32))
                            .cast("int"))
         - _parse_ipv4_masked(a[1], (a[2] if len(a) > 2 else F.lit(32))
                              .cast("int"))).cast("double")
    ).cast("bigint")),
    "strcmp": (2, 2, lambda a: F.when(a[0] == a[1], F.lit(0))
               .when(a[0] < a[1], F.lit(-1))
               .when(a[0] > a[1], F.lit(1))
               .cast("bigint")),
    # series_* — the make-series companion family (KQL series functions
    # subset). All NARROW: sequential array folds / elementwise
    # zip_with, deterministic evaluation order in both engines (no
    # parallel-accumulation float variance), codegen'd, zero shuffle.
    "series_sum array_sum": (1, 1, lambda a: _series_sum(a[0])),
    "series_avg array_avg": (1, 1, lambda a: _series_sum(a[0])
                             / F.greatest(F.size(a[0]), F.lit(1))),
    "series_min series_stats_min": (1, 1, lambda a: F.array_min(a[0])),
    "series_max series_stats_max": (1, 1, lambda a: F.array_max(a[0])),
    "series_add": (2, 2, lambda a: F.zip_with(a[0], a[1], lambda x, y: x + y)),
    "series_subtract": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x - y)),
    "series_multiply": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x * y)),
    "series_divide": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x.cast("double") / y.cast("double"))),
    "series_abs": (1, 1, lambda a: F.transform(a[0], F.abs)),
    "series_fit_line": (1, 1, lambda a: F.array(*_series_fit(a[0]))),
    "series_fit_line_dynamic": (1, 1, lambda a: _series_fit_dynamic(a[0])),
    # bag form of the gated array variant ([split, sl, il, sr, ir,
    # rss] → named keys + per-segment sub-bags)
    "series_fit_2lines_dynamic": (1, 1, lambda a: _series_fit_2lines_bag(
        _series_fit_2lines(a[0]))),
    # set predicates over dynamic arrays (arrays as sets — Spark's
    # array_intersect/union already dedupe)
    "set_has_element": (2, 2, lambda a: F.array_contains(a[0], a[1])),
    "jaccard_index": (2, 2, lambda a: F.when(
        F.size(F.array_union(a[0], a[1])) > 0,
        F.size(F.array_intersect(a[0], a[1])).cast("double")
        / F.size(F.array_union(a[0], a[1])),
    )),
    "series_outliers": (1, 1, lambda a: _series_outliers(a[0])),
    "series_pearson_correlation": (2, 2, lambda a:
        _series_pearson(a[0], a[1])),
    # null-gap fill with a constant (the make-series `default=` rule as
    # a standalone fn; captured arg is a literal in practice — cheap)
    "series_fill_const": (2, 2, lambda a: F.transform(
        a[0], lambda x: F.coalesce(x, a[1]))),
    # centered moving average (window ±k, edges clamped) and the
    # residual-based anomaly flags built on it — see the helper
    # docstrings for the documented Kusto simplifications
    "series_moving_avg": (1, 2, lambda a: _series_moving_avg(
        a[0], a[1] if len(a) > 1 else F.lit(2))),
    "series_decompose_forecast": (3, 3, lambda a: _series_forecast(
        a[0], a[1], a[2])),
    "series_decompose_anomalies": (1, 3, lambda a: _series_decompose_anomalies(
        a[0],
        a[1] if len(a) > 1 else F.lit(1.5),
        a[2] if len(a) > 2 else F.lit(2),
    )),
    "series_fit_line_slope": (1, 1, lambda a: _series_fit(a[0])[0]),
    "series_fit_line_intercept": (1, 1, lambda a: _series_fit(a[0])[1]),
    # FIR / IIR filters and the two-segment line fit — see the helper
    # docstrings for window anchoring, edge normalization, and the
    # reduced 2lines output shape
    "series_fir": (2, 4, lambda a: _series_fir(
        a[0], a[1],
        a[2] if len(a) > 2 else F.lit(True),
        a[3] if len(a) > 3 else F.lit(False),
    )),
    "series_iir": (3, 3, lambda a: _series_iir(a[0], a[1], a[2])),
    "series_periods_detect": (1, 3, lambda a: _series_periods(
        a[0],
        a[1] if len(a) > 1 else F.lit(2),
        a[2] if len(a) > 2 else F.size(a[0]) / 2,
    )),
    "series_fit_2lines": (1, 1, lambda a: _series_fit_2lines(a[0])),
    # null-gap fills beyond const: forward / backward carries, linear
    # interpolation between anchors (edges take the nearest non-null)
    "series_fill_forward": (1, 1, lambda a: _series_fill_forward(a[0])),
    "series_fill_backward": (1, 1, lambda a: _series_fill_backward(a[0])),
    "series_fill_linear": (1, 1, lambda a: _series_fill_linear(a[0])),
    # element-wise math / comparisons (all narrow zip_with / transform)
    "series_exp": (1, 1, lambda a: F.transform(a[0], lambda x: F.exp(x))),
    "series_log": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.when(x > 0, F.log(x.cast("double"))))),
    "series_sign": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.signum(x.cast("double")))),
    "series_floor": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.floor(x.cast("double")).cast("double"))),
    "series_ceiling": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.ceil(x.cast("double")).cast("double"))),
    "series_sin": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.sin(x.cast("double")))),
    "series_cos": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.cos(x.cast("double")))),
    "series_tan": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.tan(x.cast("double")))),
    "series_asin": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.when(x.cast("double").between(-1, 1),
                               F.asin(x.cast("double"))))),
    "series_acos": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.when(x.cast("double").between(-1, 1),
                               F.acos(x.cast("double"))))),
    "series_atan": (1, 1, lambda a: F.transform(
        a[0], lambda x: F.atan(x.cast("double")))),
    "series_pow": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: F.pow(x.cast("double"), y))),
    "series_greater": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x > y)),
    "series_greater_equals": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x >= y)),
    "series_less": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x < y)),
    "series_less_equals": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x <= y)),
    "series_equals": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x == y)),
    "series_not_equals": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: x != y)),
    # seasonal component (explicit period, or -1/omitted = Kusto's
    # auto-detect via series_periods_detect @ 0.7 — see helper)
    "series_seasonal": (1, 2, lambda a: _series_seasonal(
        a[0], a[1] if len(a) > 1 else F.lit(-1))),
    # series_decompose components (seasonal medians + linefit trend on
    # the deseasonalized series — see _series_decompose_part; period
    # defaults to -1 auto-detect like Kusto's series_decompose)
    "series_decompose_trend": (1, 2, lambda a: _series_decompose_part(
        a[0], a[1] if len(a) > 1 else F.lit(-1), "trend")),
    "series_decompose_baseline": (1, 2, lambda a: _series_decompose_part(
        a[0], a[1] if len(a) > 1 else F.lit(-1), "baseline")),
    "series_decompose_residual": (1, 2, lambda a: _series_decompose_part(
        a[0], a[1] if len(a) > 1 else F.lit(-1), "residual")),
    # vector ops (the embedding-column staples, shared with dataops ANN)
    "series_dot_product": (2, 2, lambda a: _series_dot(a[0], a[1])),
    "series_magnitude": (1, 1, lambda a: F.sqrt(_series_dot(a[0], a[0]))),
    "series_cosine_similarity": (2, 2, lambda a: _series_cosine(a[0], a[1])),
    # series_stats companions beyond min/max: sample variance/stdev and
    # first-occurrence argmin/argmax (0-based, the Kusto shape)
    "series_stats_variance": (1, 1, lambda a: F.when(
        F.size(a[0]) > 1,
        (
            _series_sum(F.zip_with(
                a[0], a[0], lambda x, y: x.cast("double") * y
            ))
            - _series_sum(a[0]) * _series_sum(a[0])
            / F.size(a[0]).cast("double")
        ) / (F.size(a[0]) - 1).cast("double"),
    )),
    "series_stats_stdev": (1, 1, lambda a: F.when(
        F.size(a[0]) > 1,
        F.sqrt((
            _series_sum(F.zip_with(
                a[0], a[0], lambda x, y: x.cast("double") * y
            ))
            - _series_sum(a[0]) * _series_sum(a[0])
            / F.size(a[0]).cast("double")
        ) / (F.size(a[0]) - 1).cast("double")),
    )),
    "series_stats_min_idx": (1, 1, lambda a: (
        F.array_position(a[0], F.array_min(a[0])) - 1
    ).cast("bigint")),
    "series_stats_max_idx": (1, 1, lambda a: (
        F.array_position(a[0], F.array_max(a[0])) - 1
    ).cast("bigint")),
    # IPv4 predicates (log-pipeline staples; all narrow arithmetic —
    # split + try_cast octets, no regex, no Python)
    "ipv4_is_private": (1, 1, lambda a: (
        (F.get(F.split(a[0], r"\."), 0).try_cast("int") == 10)
        | ((F.get(F.split(a[0], r"\."), 0).try_cast("int") == 172)
           & F.get(F.split(a[0], r"\."), 1).try_cast("int")
           .between(16, 31))
        | ((F.get(F.split(a[0], r"\."), 0).try_cast("int") == 192)
           & (F.get(F.split(a[0], r"\."), 1).try_cast("int") == 168))
    )),
    "ipv4_is_in_range ipv4_is_match": (2, 2, lambda a:
        _ipv4_in_range(a[0], a[1])),
    # parse_ipv4 accepts an optional /mask suffix (bits above the mask
    # zeroed — Kusto's semantics); parse_ipv4_mask takes the mask as a
    # second arg; format_ipv4 renders a numeric back to dotted-quad
    # (also accepts dotted input, masked); ipv4_netmask_suffix reads
    # the /m (32 when absent, NULL when malformed)
    "parse_ipv4": (1, 1, lambda a: _parse_ipv4_masked(
        F.try_element_at(F.split(a[0], "/"), F.lit(1)),
        F.coalesce(
            F.try_element_at(F.split(a[0], "/"), F.lit(2))
            .try_cast("int"), F.lit(32)))),
    "parse_ipv4_mask": (2, 2, lambda a: _parse_ipv4_masked(
        F.try_element_at(F.split(a[0], "/"), F.lit(1)),
        a[1].try_cast("int"))),
    "ipv4_netmask_suffix": (1, 1, lambda a: F.when(
        _ip2long(F.try_element_at(F.split(a[0], "/"), F.lit(1)))
        .isNotNull(),
        F.coalesce(
            F.try_element_at(F.split(a[0], "/"), F.lit(2))
            .try_cast("int"), F.lit(32))).cast("int")),
    "format_ipv4": (1, None, lambda a: _format_ipv4(*a)),
    # CIDR rendering of the masked address (Kusto returns '' on bad
    # input; this engine's error value is NULL, as documented for the
    # whole ipv4 family)
    "format_ipv4_mask": (2, 2, lambda a: F.concat(
        _format_ipv4(a[0], a[1]), F.lit("/"),
        F.when(a[1].try_cast("int").between(0, 32),
               a[1].cast("int")).cast("string"))),
    "ipv4_is_in_any_range": (2, None, lambda a: reduce(
        lambda acc, r: acc | _ipv4_in_range(a[0], r),
        a[2:], _ipv4_in_range(a[0], a[1]))),
    # KQL array_index_of is 0-based, -1 when absent (array_position is
    # 1-based, 0 when absent)
    "array_index_of": (2, 2, lambda a: (
        F.array_position(a[0], a[1]) - 1
    ).cast("bigint")),
    # Kusto places null elements LAST in both directions (nulls_last
    # defaults true): F.array_sort does that ascending; descending,
    # sort_array(asc=False) already ends with nulls
    "array_sort_asc": (1, 1, lambda a: F.array_sort(a[0])),
    "array_sort_desc": (1, 1, lambda a: F.sort_array(a[0], asc=False)),
    # array shape/manipulation round-out (Kusto dynamic helpers) — all
    # narrow slice/concat arithmetic, see the helper docstrings
    "array_slice": (3, 3, lambda a: _array_slice(a[0], a[1], a[2])),
    "array_concat": (1, None, lambda a: F.concat(*a)),
    "array_rotate_left": (2, 2, lambda a: _array_rotate(a[0], a[1])),
    "array_rotate_right": (2, 2, lambda a: _array_rotate(a[0], -a[1])),
    "array_shift_left": (2, 3, lambda a: _array_shift(
        a[0], a[1], a[2] if len(a) > 2 else F.lit(None))),
    "array_shift_right": (2, 3, lambda a: _array_shift(
        a[0], -a[1], a[2] if len(a) > 2 else F.lit(None))),
    # zip restricted to same-type arrays (Kusto zips to dynamic pairs;
    # the Spark twin is array<array<T>>)
    "zip": (2, 2, lambda a: F.zip_with(
        a[0], a[1], lambda x, y: F.array(x, y))),
    "repeat": (2, 2, lambda a: F.array_repeat(a[0], a[1].cast("int"))),
    # elementwise conditional over three equal-length arrays (Kusto
    # array_iff; scalar branches not supported in this subset)
    "array_iff": (3, 3, lambda a: F.zip_with(
        a[0],
        F.zip_with(
            a[1], a[2],
            lambda x, y: F.struct(x.alias("t"), y.alias("f")),
        ),
        lambda c, s: F.when(c.cast("boolean"), s["t"]).otherwise(s["f"]),
    )),
    "set_union": (2, 2, lambda a: F.array_distinct(F.array_union(a[0], a[1]))),
    "set_difference": (2, 2, lambda a: F.array_distinct(
        F.array_except(a[0], a[1]))),
    "set_intersect": (2, 2, lambda a: F.array_distinct(
        F.array_intersect(a[0], a[1]))),
    "dayofweek": (1, 1, lambda a: F.weekday(a[0]).cast("bigint")),
    "hourofday": (1, 1, lambda a: F.hour(a[0]).cast("bigint")),
    "getyear": (1, 1, lambda a: F.year(a[0]).cast("bigint")),
    "dayofmonth": (1, 1, lambda a: F.dayofmonth(a[0]).cast("bigint")),
    # GetType (scalar_expressions.rs:41) — engine type name of the arg
    "gettype typeof": (1, 1, lambda a: F.typeof(a[0])),
    # misc
    "strlen_bytes": (1, 1, lambda a: F.octet_length(a[0])),
    "hash_sha256": (1, 1, lambda a: F.sha2(a[0], 256)),
    "hash_sha1": (1, 1, lambda a: F.sha1(a[0].cast("string"))),
    "hash_md5": (1, 1, lambda a: F.md5(a[0].cast("string"))),
    # hash_xxhash64 is Kusto's only hash with a PINNED algorithm —
    # xxhash64 of the value bytes; Spark's builtin is the same family
    # but hashes Spark's internal row encoding with seed 42, so values
    # differ from Kusto's (engine-defined constant offset; distribution
    # and determinism properties hold). hash_combine/hash_many likewise
    # engine-defined mixes (Kusto documents no algorithm), and so is
    # the bare hash() (Kusto's own is likewise engine-specific) —
    # pytest-only, no cross-engine oracle
    "hash_xxhash64 hash": (1, 2, lambda a: (
        F.xxhash64(a[0]) if len(a) == 1
        else F.pmod(F.xxhash64(a[0]), a[1]))),
    "hash_many hash_combine": (1, None, lambda a: F.xxhash64(*a)),
    # string_size = UTF-8 payload bytes (Kusto's string size estimate)
    "string_size": (1, 1, lambda a: F.octet_length(a[0]).cast("bigint")),
    # Spark strings are validated UTF-8 by construction, so any
    # non-null string IS utf8 (Kusto's isutf8 checks raw bytes)
    "isutf8": (1, 1, lambda a: a[0].isNotNull()),
    "new_guid": (0, 0, lambda a: F.uuid()),
    "cot": (1, 1, lambda a: 1.0 / F.tan(a[0].cast("double"))),
    # statistics trio (regularized incomplete beta backbone — see
    # _betainc): beta_cdf/beta_pdf take Kusto's (x, alpha, beta)
    "beta_cdf": (3, 3, lambda a: _betainc(
        a[1].cast("double"), a[2].cast("double"), a[0].cast("double"))),
    "beta_pdf": (3, 3, lambda a: F.when(
        (a[1].cast("double") > 0) & (a[2].cast("double") > 0),
        F.when(
            a[0].cast("double").between(1e-300, 1 - 1e-16),
            F.exp(
                (a[1].cast("double") - 1.0)
                * F.log(a[0].cast("double"))
                + (a[2].cast("double") - 1.0)
                * F.log(1.0 - a[0].cast("double"))
                + _lgamma_pos(a[1].cast("double")
                              + a[2].cast("double"))
                - _lgamma_pos(a[1].cast("double"))
                - _lgamma_pos(a[2].cast("double")))
        ).when(a[0].cast("double").between(0.0, 1.0), F.lit(0.0)))),
    "welch_test": (6, 6, lambda a: _welch_test(*a)),
    # beta_inv takes Kusto's (probability, alpha, beta)
    "beta_inv": (3, 3, lambda a: _beta_inv(
        a[0].cast("double"), a[1].cast("double"), a[2].cast("double"))),
    # GUID ↔ base64 of the .NET mixed-endian 16-byte form; invalid
    # input → typed null (same contract as toguid)
    "base64_encode_fromguid": (1, 1, lambda a: F.when(
        a[0].cast("string").rlike(
            r"^[0-9a-fA-F]{8}(-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}$"),
        F.base64(F.unhex(_guid_hex_to_bytes_hex(a[0].cast("string")))))),
    "base64_decode_toguid": (1, 1, lambda a: F.when(
        F.octet_length(F.unbase64(a[0].cast("string"))) == 16,
        _bytes_hex_to_guid(F.lower(F.hex(F.unbase64(
            a[0].cast("string"))))))),
    # unit conversions (factor tables above; unknown unit → NULL)
    "convert_angle": (3, 3, lambda a: _convert_unit("angle", *a)),
    "convert_energy": (3, 3, lambda a: _convert_unit("energy", *a)),
    "convert_force": (3, 3, lambda a: _convert_unit("force", *a)),
    "convert_length": (3, 3, lambda a: _convert_unit("length", *a)),
    "convert_mass": (3, 3, lambda a: _convert_unit("mass", *a)),
    "convert_speed": (3, 3, lambda a: _convert_unit("speed", *a)),
    "convert_volume": (3, 3, lambda a: _convert_unit("volume", *a)),
    "convert_temperature": (3, 3, lambda a: _convert_temperature(*a)),
    # Kusto decimal is a 128-bit base-10 type; decimal(38,14) covers
    # ±1e24 with 14 fractional digits — the practical envelope of the
    # reference's numeric tests (documented subset)
    "todecimal": (1, 1, lambda a: a[0].try_cast("decimal(38,14)")),
    # toguid validates + canonicalizes (lowercase, hyphenated form
    # only); anything else is the typed null, like the to*() family
    "toguid": (1, 1, lambda a: F.when(
        a[0].cast("string").rlike(
            r"^[0-9a-fA-F]{8}(-[0-9a-fA-F]{4}){3}-[0-9a-fA-F]{12}$"),
        F.lower(a[0].cast("string")))),
    # replace_strings(text, lookups, rewrites) — sequential fold;
    # a null/missing rewrite leaves the text unchanged (Kusto skips
    # invalid pairs rather than nulling the row)
    "replace_strings": (3, 3, lambda a: F.aggregate(
        F.zip_with(a[1], a[2], lambda l, r: F.struct(
            l.cast("string").alias("l"), r.cast("string").alias("r"))),
        a[0].cast("string"),
        lambda acc, e: F.when(
            e["l"].isNotNull() & e["r"].isNotNull(),
            F.replace(acc, e["l"], e["r"])).otherwise(acc))),
    # rand() ∈ [0,1); rand(n) draws uniformly from {0, 1, …, n-1}
    # (nondeterministic — gate by invariants, never by value)
    "rand": (0, 1, lambda a: (
        F.rand() if not a
        else F.floor(F.rand() * a[0].cast("double")).cast("double"))),
    # engine-defined rough byte estimate (Kusto documents no formula):
    # the JSON rendering's UTF-8 payload of the argument tuple
    "estimate_data_size": (1, None, lambda a: F.octet_length(
        F.to_json(F.struct(*a))).cast("bigint")),
    # wall-clock shifts between UTC and an IANA zone; timestamps are
    # timestamp_ntz wall times labeled UTC throughout this engine, so
    # the shift is (from|to)_utc_timestamp on the raw wall time
    "datetime_utc_to_local": (2, 2, lambda a: F.from_utc_timestamp(
        a[0].cast("timestamp_ntz").cast("string").cast("timestamp"),
        a[1]).cast("string").cast("timestamp_ntz")),
    "datetime_local_to_utc": (2, 2, lambda a: F.to_utc_timestamp(
        a[0].cast("timestamp_ntz").cast("string").cast("timestamp"),
        a[1]).cast("string").cast("timestamp_ntz")),
    # URL codecs (Kusto url-encode/decode-function): url_encode is
    # form-encoding (space → '+', Java URLEncoder == Kusto), the
    # _component variant is RFC-3986 (space → %20; '+' in the input is
    # already %2B before the swap, so the replace is safe)
    "url_encode": (1, 1, lambda a: F.url_encode(a[0])),
    "url_decode": (1, 1, lambda a: F.url_decode(a[0])),
    "url_encode_component": (1, 1, lambda a: F.replace(
        F.url_encode(a[0]), F.lit("+"), F.lit("%20"))),
    # indexof_regex — zero-based like indexof, -1 when no match
    # (regexp_instr is 1-based with 0 = miss, so -1 shifts both)
    "indexof_regex": (2, 2, lambda a: (
        F.regexp_instr(a[0], a[1]) - F.lit(1)).cast("bigint")),
    # bit manipulation (Kusto binary-functions) — 64-bit semantics
    "binary_and": (2, 2, lambda a: a[0].cast("long").bitwiseAND(
        a[1].cast("long"))),
    "binary_or": (2, 2, lambda a: a[0].cast("long").bitwiseOR(
        a[1].cast("long"))),
    "binary_xor": (2, 2, lambda a: a[0].cast("long").bitwiseXOR(
        a[1].cast("long"))),
    "binary_not": (1, 1, lambda a: F.bitwise_not(a[0].cast("long"))),
    "binary_shift_left": (2, 2, lambda a: F.call_function(
        "shiftleft", a[0].cast("long"), a[1].cast("int"))),
    "binary_shift_right": (2, 2, lambda a: F.call_function(
        "shiftright", a[0].cast("long"), a[1].cast("int"))),
    "bitset_count_ones": (1, 1, lambda a: F.bit_count(
        a[0].cast("long")).cast("bigint")),
    # geo — spherical-Earth great-circle (haversine, S2's mean radius
    # 6371.01 km, the geometry library Kusto's geo_* functions use).
    # args are (lon1, lat1, lon2, lat2 [, radius]) like Kusto.
    "geo_distance_2points": (4, 4, lambda a: _geo_distance(*a)),
    "geo_point_in_circle": (5, 5, lambda a: (
        _geo_distance(a[0], a[1], a[2], a[3]) <= a[4])),
    # dcount_hll(sketch) — read the cardinality estimate out of an
    # hll()/hll_merge() sketch (Datasketches HLL; exact in sparse mode,
    # i.e. for small per-group cardinalities)
    "dcount_hll": (1, 1, lambda a: F.hll_sketch_estimate(a[0])),
    # OTTL converter aliases (public OTTL LANGUAGE.md; the shared scalar
    # core the ottl module's value/where expressions parse through)
    # (`len` and `string` share strlen's and tostring's entries)
    "int": (1, 1, lambda a: a[0].try_cast("bigint")),
    "double": (1, 1, lambda a: a[0].try_cast("double")),
    "isstring": (1, 1, lambda a: a[0].cast("string").isNotNull()),
}

# conversions that need the string detour when applied to a VARIANT
_VARIANT_VIA_STRING = {
    "toint", "tolong", "todouble", "toreal", "tofloat", "tobool",
    "int", "double",
}

_AGG_MAP = {
    # summary_data_expression.rs:215-221
    "count": (0, 1, lambda a: F.count(F.lit(1)) if not a else F.count(a[0])),
    "countif": (1, 1, lambda a: F.count(F.when(a[0], 1))),
    "sum": (1, 1, lambda a: F.sum(a[0])),
    "avg": (1, 1, lambda a: F.avg(a[0])),
    "min": (1, 1, lambda a: F.min(a[0])),
    "max": (1, 1, lambda a: F.max(a[0])),
    # count_distinct / count_distinctif — Kusto's EXACT distinct-count
    # pair (dcount is the HLL estimate there; here bare dcount is
    # already exact for oracle hashability, so these are true aliases)
    "dcount count_distinct": (1, 1, lambda a: F.countDistinct(a[0])),
    "make_list": (1, 1, lambda a: F.collect_list(a[0])),
    "make_set": (1, 1, lambda a: F.array_sort(F.collect_set(a[0]))),
    # conditional aggregates: agg over `when(pred, expr)` — NULLs (rows
    # failing the predicate) are ignored by the aggregate, matching
    # KQL *if() and SQL `CASE WHEN pred THEN expr END` semantics
    "sumif": (2, 2, lambda a: F.sum(F.when(a[1], a[0]))),
    "avgif": (2, 2, lambda a: F.avg(F.when(a[1], a[0]))),
    "minif": (2, 2, lambda a: F.min(F.when(a[1], a[0]))),
    "maxif": (2, 2, lambda a: F.max(F.when(a[1], a[0]))),
    # arg_max/arg_min(ExprToRank, ExprToReturn) — KQL argument order;
    # ties are arbitrary (use a unique ranking expr for determinism)
    "arg_max": (2, 2, lambda a: F.max_by(a[1], a[0])),
    "arg_min": (2, 2, lambda a: F.min_by(a[1], a[0])),
    "stdev": (1, 1, lambda a: F.stddev_samp(a[0])),
    "variance": (1, 1, lambda a: F.var_samp(a[0])),
    "stdevif": (2, 2, lambda a: F.stddev_samp(F.when(a[1], a[0]))),
    "varianceif": (2, 2, lambda a: F.var_samp(F.when(a[1], a[0]))),
    "stdevp": (1, 1, lambda a: F.stddev_pop(a[0])),
    "variancep": (1, 1, lambda a: F.var_pop(a[0])),
    # bitwise aggregate family — the lineage checksum pattern
    # (`lineage.py` uses bit_xor for order-insensitive content sums)
    # surfaced in the query language
    "binary_all_and": (1, 1, lambda a: F.bit_and(a[0])),
    "binary_all_or": (1, 1, lambda a: F.bit_or(a[0])),
    "binary_all_xor": (1, 1, lambda a: F.bit_xor(a[0])),
    # take_any: KQL's arbitrary-row picker; Spark's any_value with
    # ignoreNulls — deterministic only when the expr is constant per
    # group (what the gated query does; general use is by-design
    # nondeterministic, same as KQL)
    "take_any": (1, 1, lambda a: F.any_value(a[0], True)),
    "take_anyif anyif": (2, 2, lambda a:
        F.any_value(F.when(a[1], a[0]), True)),
    "dcountif count_distinctif": (2, 2, lambda a:
        F.countDistinct(F.when(a[1], a[0]))),
    # KQL dcount is approximate by design (HLL); the bare form above is
    # EXACT (cross-engine oracle hashability). dcount_approx opts into
    # the sketch: HyperLogLog++, bounded state per group at any scale,
    # mergeable map-side.
    "dcount_approx": (1, 1, lambda a: F.approx_count_distinct(a[0])),
    # hll()/hll_merge() — Kusto's explicit-sketch pair (aggregates.md):
    # hll(x) folds values into a binary HLL sketch, hll_merge(s) unions
    # sketches, dcount_hll(s) (scalar) reads the estimate. Spark's
    # Datasketches HllSketch: fixed-size state per group, map-side
    # partial merge — the shape that makes per-hour→per-day distinct
    # rollups one shuffle of sketches instead of a re-scan at 100 TB.
    "hll": (1, 1, lambda a: F.hll_sketch_agg(a[0])),
    "hll_merge": (1, 1, lambda a: F.hll_union_agg(a[0])),
    # make_list_if/make_set_if — collect_list/set skip NULLs, so the
    # failed-predicate rows vanish, matching KQL *if() semantics
    "make_list_if": (2, 2, lambda a: F.collect_list(F.when(a[1], a[0]))),
    "make_set_if": (2, 2, lambda a: F.array_sort(
        F.collect_set(F.when(a[1], a[0])))),
    # make_bag(m) — union of property bags across the group. Entry
    # order follows collect_list (arbitrary across partitions, like
    # KQL); first occurrence of a key wins, enforced by the indexed
    # filter so conflicting keys can't crash map_from_entries.
    "make_bag": (1, 1, lambda a: _make_bag(a[0])),
    "make_bag_if": (2, 2, lambda a: _make_bag(F.when(a[1], a[0]))),
    # percentilew(x, weight, p) — exact weighted percentile: smallest x
    # whose cumulative weight reaches p% of the group's total weight
    "percentilew": (3, 3, lambda a: _percentilew(a[0], a[1], a[2])),
    # covariance family (aggregates.md): sample/population covariance
    # of two numeric expressions; the *if forms NULL out rows failing
    # the predicate (covar_* skips pairs with any NULL side — same as
    # Kusto, which ignores rows where either operand is null)
    "covariance": (2, 2, lambda a: F.covar_samp(
        a[0].cast("double"), a[1].cast("double"))),
    "covariancep": (2, 2, lambda a: F.covar_pop(
        a[0].cast("double"), a[1].cast("double"))),
    "covarianceif": (3, 3, lambda a: F.covar_samp(
        F.when(a[2], a[0]).cast("double"),
        F.when(a[2], a[1]).cast("double"))),
    "covariancepif": (3, 3, lambda a: F.covar_pop(
        F.when(a[2], a[0]).cast("double"),
        F.when(a[2], a[1]).cast("double"))),
    # make_list_with_nulls — collect_list drops NULLs, so ferry each
    # value inside a (non-null) struct and unwrap after collection
    "make_list_with_nulls": (1, 1, lambda a: F.transform(
        F.collect_list(F.struct(a[0].alias("v"))), lambda s: s["v"])),
}

for _table in (_FUNC_MAP_SIMPLE, _AGG_MAP):
    for _name, (_lo, _hi, _fn) in _table.items():
        _builtin(_name, _lo, _hi)(
            lambda p, args, fn=_fn: KE(fn([a.col for a in args])))


def _percentilew(v: Column, w: Column, p: Column) -> Column:
    """Weighted percentile over a group: sort (v, w) pairs by value and
    take the first v whose running weight ≥ p/100 · Σw. One
    array_sort + one linear fold per group — the per-group array makes
    this a bounded-group-cardinality aggregate (same contract as the
    exact `percentiles_array` family; unbounded groups belong to
    `percentile()`'s sketch). The p·Σw threshold is zipped in via
    array_repeat so the fold lambda never recomputes the total
    (HOF-captured expressions re-evaluate per element)."""
    pairs = F.filter(
        F.collect_list(F.struct(v.cast("double").alias("v"),
                                w.cast("double").alias("w"))),
        lambda x: x["v"].isNotNull() & x["w"].isNotNull(),
    )
    arr = F.array_sort(pairs)
    tot = F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x["w"])
    tgt = F.array_repeat(
        F.struct((tot * p / 100.0).alias("tgt")), F.size(arr))
    zipped = F.zip_with(
        arr, tgt,
        lambda x, t: F.struct(x["v"].alias("v"), x["w"].alias("w"),
                              t["tgt"].alias("tgt")))
    return F.aggregate(
        zipped,
        F.struct(F.lit(0.0).alias("cum"),
                 F.lit(None).cast("double").alias("res")),
        lambda acc, x: F.struct(
            (acc["cum"] + x["w"]).alias("cum"),
            F.coalesce(
                acc["res"],
                F.when(acc["cum"] + x["w"] >= x["tgt"], x["v"]),
            ).alias("res")),
        lambda acc: acc["res"],
    )


def _timespan_secs(src: str) -> float:
    """Seconds of a timespan literal ``<n><d|h|m|s|ms>``."""
    m = re.fullmatch(r"([\d.]+)(d|h|m|s|ms)", src.strip())
    if not m:
        raise KqlError(
            f"expected a timespan literal '<n><d|h|m|s|ms>', got {src!r}")
    return float(m.group(1)) * {
        "d": 86400, "h": 3600, "m": 60, "s": 1, "ms": 0.001
    }[m.group(2)]


def _pack_all_col(df: DataFrame) -> Column:
    """``pack_all()`` — a dynamic bag of every current column (Kusto).
    Needs the stage's column list, so it is substituted at the
    extend/project layer rather than living in the expression parser
    (which sees only expressions, not the relation)."""
    return F.parse_json(F.to_json(F.struct(
        *[F.col(c).alias(c) for c in df.columns
          if not c.startswith(_TWIN_PREFIX)])))


def _column_ifexists_col(df: DataFrame, expr: str, pe) -> "Column | None":
    """``column_ifexists('name', default)`` — the named column when the
    relation has it, else the default expression. Like pack_all() this
    needs the stage's column list, so it is substituted at the
    extend/project layer; returns None when expr is not that form."""
    m = re.fullmatch(
        r"column_ifexists\s*\(\s*(?:[\"']([^\"']+)[\"']"
        r"|([A-Za-z_]\w*))\s*,\s*(.+)\)\s*",
        expr.strip(), re.S)
    if not m:
        return None
    name = m.group(1) or m.group(2)
    if name in df.columns:
        return F.col(name)
    return pe(m.group(3))


# Hidden sibling columns holding the map<string,variant> twin of a bag
# column produced by bag surgery — see KE.bag_map. Never user-visible:
# stripped before any column-shape-changing stage and at query end.
_TWIN_PREFIX = "__bag_twin__"


def _plugin_epoch(src: str) -> float:
    """Epoch seconds (UTC) of a ``datetime(…)`` plugin argument. The
    engine pins the session timezone to UTC (`session.py`), so naive
    literals are UTC — never the driver's local zone."""
    import datetime as _dtm

    s = src.strip().strip("'\"")
    try:
        d = _dtm.datetime.fromisoformat(s)
    except ValueError as exc:
        raise KqlError(f"bad datetime literal {src!r}") from exc
    if d.tzinfo is None:
        d = d.replace(tzinfo=_dtm.timezone.utc)
    return d.timestamp()


def _geo_distance(lon1: Column, lat1: Column,
                  lon2: Column, lat2: Column) -> Column:
    """Haversine great-circle distance in meters (sphere of radius
    6371.01 km). Formula term order is fixed so an ANSI oracle built
    from the same text matches to the last few ULPs — round results
    before hashing them across engines."""
    rad = F.lit(0.017453292519943295)  # pi/180
    dlat = (lat2 - lat1) * rad / 2
    dlon = (lon2 - lon1) * rad / 2
    a = (F.pow(F.sin(dlat), 2)
         + F.cos(lat1 * rad) * F.cos(lat2 * rad)
         * F.pow(F.sin(dlon), 2))
    return F.lit(2.0 * 6371010.0) * F.asin(F.sqrt(a))


def _geo_bearing(lon1: Column, lat1: Column,
                 lon2: Column, lat2: Column) -> Column:
    """Initial great-circle bearing (radians, from north) — the
    standard atan2 formulation, term order fixed for oracle parity."""
    rad = F.lit(0.017453292519943295)
    dl = (lon2 - lon1) * rad
    y = F.sin(dl) * F.cos(lat2 * rad)
    x = (F.cos(lat1 * rad) * F.sin(lat2 * rad)
         - F.sin(lat1 * rad) * F.cos(lat2 * rad) * F.cos(dl))
    return F.atan2(y, x)


def _geo_seg_point_dist(lon: Column, lat: Column,
                        x1: Column, y1: Column,
                        x2: Column, y2: Column) -> Column:
    """Spherical point-to-segment distance in meters: cross-track
    distance when the along-track projection falls on the segment,
    else the nearer endpoint (the classic aviation-formulary shapes on
    the 6371.01 km sphere). The acos ratio is clamped to [−1, 1]
    before use so ULP overshoot never NaNs; a degenerate zero-length
    segment falls back to the endpoint distance."""
    R = F.lit(6371010.0)
    d13 = _geo_distance(x1, y1, lon, lat)
    d23 = _geo_distance(x2, y2, lon, lat)
    d12 = _geo_distance(x1, y1, x2, y2)
    a13 = d13 / R
    b13 = _geo_bearing(x1, y1, lon, lat)
    b12 = _geo_bearing(x1, y1, x2, y2)
    dxt = F.asin(F.sin(a13) * F.sin(b13 - b12))
    ratio = F.greatest(
        F.least(F.cos(a13) / F.cos(dxt), F.lit(1.0)), F.lit(-1.0))
    dat = F.acos(ratio)
    endpoint = F.least(d13, d23)
    return F.when(d12 == 0, endpoint).when(
        (F.cos(b13 - b12) >= 0) & (dat <= d12 / R),
        F.abs(dxt) * R,
    ).otherwise(endpoint)


def _geojson_coords(ke: KE, schema: str, depth: int) -> Column:
    """``coordinates`` of a GeoJSON dynamic as typed nested arrays.

    A LITERAL GeoJSON argument (the common geofence shape — the
    polygon is a query constant) folds at COMPILE time into nested
    array literals: zero per-row parsing, and Catalyst sees a foldable
    constant. Anything else re-enters array land via one ``from_json``
    of the VARIANT's JSON text — callers bind the result once per row
    with :func:`_let` so chained references don't re-parse."""
    import json as _json

    if ke.is_lit and isinstance(ke.lit, str):
        try:
            coords = _json.loads(ke.lit).get("coordinates")
        except Exception:
            coords = None

        def _ok(x, d):
            if d == 0:
                return isinstance(x, (int, float)) and not isinstance(
                    x, bool)
            return (isinstance(x, list) and len(x) > 0
                    and all(_ok(v, d - 1) for v in x))

        if _ok(coords, depth):
            def _arr(x, d):
                if d == 0:
                    return F.lit(float(x))
                return F.array(*[_arr(v, d - 1) for v in x])

            return _arr(coords, depth)
    return F.from_json(
        ke.col.cast("string"),
        f"struct<type:string,coordinates:{schema}>",
    )["coordinates"]


def _geo_ring_contains(lon: Column, lat: Column, ring: Column) -> Column:
    """Even-odd ray cast of (lon, lat) against one GeoJSON ring
    (``array<array<double>>``, closed per spec — walking vertex i →
    i+1 for i in [0, n-2] therefore covers every edge once). Crossing
    parity is a toggle fold via ``F.aggregate`` (pure whole-stage
    codegen, no Python); the per-edge test is the classic PNPOLY
    formulation kept in exactly this operand order so a DuckDB oracle
    built from the same text compares bit-for-bit. A horizontal edge
    (yj == yi) fails the first conjunct, so the div-by-zero second
    conjunct is inert (IEEE ±Inf, never an error, in both engines)."""
    idx = F.sequence(F.lit(0), F.size(ring) - F.lit(2))

    def _step(acc: Column, i: Column) -> Column:
        vi, vj = F.get(ring, i), F.get(ring, i + F.lit(1))
        xi, yi = F.get(vi, 0), F.get(vi, 1)
        xj, yj = F.get(vj, 0), F.get(vj, 1)
        crosses = ((yi > lat) != (yj > lat)) & (
            lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)
        return F.when(crosses, ~acc).otherwise(acc)

    return F.when(
        F.size(ring) >= 3, F.aggregate(idx, F.lit(False), _step)
    ).otherwise(F.lit(False))


def _geo_ring_area(ring: Column) -> Column:
    """Spherical ring area in m² by the Chamberlain–Duquette formula
    (the public Turf.js/geojson-area formulation): |Σ over edges of
    (λ₂−λ₁)·(2 + sin φ₁ + sin φ₂)| · R²/2 on the R = 6371.01 km
    sphere. A close approximation of the geodesic area for the
    sub-continental rings telemetry uses; term order fixed for
    cross-engine oracle parity."""
    rad = F.lit(0.017453292519943295)
    idx = F.sequence(F.lit(0), F.size(ring) - F.lit(2))
    s = F.aggregate(
        idx, F.lit(0.0),
        lambda acc, i: acc + (
            (F.get(F.get(ring, i + F.lit(1)), 0)
             - F.get(F.get(ring, i), 0)) * rad
            * (F.lit(2.0) + F.sin(F.get(F.get(ring, i), 1) * rad)
               + F.sin(F.get(F.get(ring, i + F.lit(1)), 1) * rad))))
    return F.abs(s) * F.lit(6371010.0 * 6371010.0 / 2.0)


def _make_bag(m: Column) -> Column:
    # bags flow through the parser as VARIANT (bag_pack's json detour);
    # normalize either VARIANT or MAP input to map<string,string> —
    # one to_json/from_json round-trip, stays whole-stage codegen
    m = F.from_json(F.to_json(m), "map<string,string>")
    entries = F.flatten(F.collect_list(F.map_entries(m)))
    dedup = F.filter(
        entries,
        lambda e, i: F.array_position(
            F.transform(entries, lambda x: x["key"]), e["key"]
        ) == i + F.lit(1),
    )
    # back to VARIANT so the result composes with bag_keys/accessors in
    # later stages (the stage compiler re-derives variant cols from the
    # schema each stage)
    return F.parse_json(F.to_json(F.map_from_entries(dedup)))


def _bag_pack(args: list[KE]) -> KE:
    """bag_pack(k1, v1, k2, v2, …) → dynamic bag (variant), so
    accessors/bag_keys/bag_unpack compose with the result.

    Both forms also carry the map<string,variant> TWIN parsed from the
    SAME JSON string (exact parity by construction), so bag surgery /
    fused accessors on the result skip the VARIANT re-serialization —
    and when only the twin is consumed, Catalyst prunes the VARIANT
    column entirely."""
    if len(args) % 2:
        raise KqlError("bag_pack needs (k1, v1[, k2, v2…])")
    if all(args[i].is_lit for i in range(0, len(args), 2)):
        # literal keys (the common case): a typed struct keeps each
        # value's JSON type (numbers stay numbers)
        fields = [
            args[i + 1].col.alias(str(args[i].lit))
            for i in range(0, len(args), 2)
        ]
        js = F.to_json(F.struct(*fields))
    else:
        # column-valued keys: map form; values stringify (the JSON type
        # degrades, same as Kusto dynamic-from-map)
        js = F.to_json(F.map_from_arrays(
            F.array(*[args[i].col.cast("string")
                      for i in range(0, len(args), 2)]),
            F.array(*[args[i].col.cast("string")
                      for i in range(1, len(args), 2)]),
        ))
    return KE(F.parse_json(js), variant=True,
              bag_map=F.from_json(js, "map<string, variant>"))


def _bag_json(ke: KE) -> Column:
    """JSON text of a bag argument: a VARIANT bag or a bag twin
    serializes; any other value is taken as JSON text already."""
    if ke.variant:
        return F.to_json(ke.col)
    if ke.bag_map is not None:
        return F.to_json(ke.bag_map)
    return ke.col


def _bag_map(ke: KE) -> Column:
    """map<string, variant> twin of a bag argument, for property-bag
    surgery (bag_merge/bag_set_key/bag_remove_keys). Bags travel as
    VARIANT; surgery happens on the twin (from_json ↔ to_json
    round-trips preserve JSON value types — measured) and the result
    re-enters the VARIANT world, so accessors and the other bag
    functions compose with it. Bags are unordered in Kusto — key order
    of the rebuilt JSON is not part of the contract. CHAINED surgery
    fuses in map-land: each result KE carries its map twin
    (``bag_map``), nested calls consume it directly, and the extend
    stage materializes it as a hidden sibling column so later
    statements compose without re-entering JSON per call."""
    if ke.bag_map is not None:  # fused: already in map-land
        return ke.bag_map
    src = ke.col
    if ke.variant:
        src = F.to_json(src)
    return F.coalesce(
        F.from_json(src, "map<string, variant>"),
        F.from_json(F.lit("{}"), "map<string, variant>"),
    )


class ExprParser:
    """Pratt parser for KQL scalar expressions → KE node."""

    def __init__(self, toks: list[Tok], pos: int = 0,
                 bindings: dict[str, "KE | Column"] | None = None,
                 wspec=None,
                 variant_cols: set[str] | None = None,
                 bag_twins: dict[str, Column] | None = None):
        self.toks = toks
        self.pos = pos
        self.bindings = bindings or {}
        # Column names of VARIANT (dynamic) type in the current input —
        # bare references to them must resolve variant-flagged so path
        # accessors compile to try_variant_get, not getItem.
        self.variant_cols = variant_cols or set()
        # Materialized map<string,variant> twins of bag columns (kept
        # by the extend stage as hidden sibling columns) — bag-surgery
        # calls on these columns skip the VARIANT→JSON→map conversion.
        self.bag_twins = bag_twins or {}
        # Window spec of the current serialized row set (set by
        # `sort by` / `serialize`); None outside one. Window functions
        # (row_number/prev/next/row_cumsum/…) are only legal when set —
        # same rule as KQL, where they require a serialized input.
        self.wspec = wspec

    def peek(self) -> Tok:
        return self.toks[self.pos]

    def next(self) -> Tok:
        t = self.toks[self.pos]
        if t.kind != "eof":  # clamp at eof: repeated next() keeps returning it
            self.pos += 1
        return t

    def expect(self, text: str) -> None:
        t = self.next()
        if t.text != text:
            raise KqlError(f"expected {text!r}, got {t.text!r}")

    # precedence: or < and < not < cmp < add < mul < unary
    def parse(self) -> KE:
        return self._or()

    def _or(self) -> KE:
        left = self._and()
        while self.peek().text == "or":
            self.next()
            left = KE(left.col | self._and().col)
        return left

    def _and(self) -> KE:
        left = self._cmp()
        while self.peek().text == "and":
            self.next()
            left = KE(left.col & self._cmp().col)
        return left

    def _cmp(self) -> KE:
        left = self._add()
        t = self.peek().text
        if t in ("==", "!=", "<", "<=", ">", ">=", "=~", "!~"):
            self.next()
            right = self._add()
            l, r = left.col, right.col
            if t == "==":
                return KE(l == r)
            if t == "!=":
                return KE(l != r)
            if t == "<":
                return KE(l < r)
            if t == "<=":
                return KE(l <= r)
            if t == ">":
                return KE(l > r)
            if t == ">=":
                return KE(l >= r)
            if t == "=~":  # case-insensitive equality (kql.pest:24-25)
                return KE(F.lower(l) == F.lower(r))
            return KE(F.lower(l) != F.lower(r))
        if t in ("contains", "contains_cs", "has", "has_cs", "startswith",
                 "endswith", "!contains", "!has", "hasprefix", "hassuffix"):
            self.next()
            right = self._add()
            l, r = left.col, right.col
            if t in ("has", "has_cs", "!has", "hasprefix", "hassuffix"):
                # KQL term semantics: `has` matches only WHOLE terms
                # (maximal alphanumeric runs) — "North America" has
                # "north" but NOT "orth"; hasprefix/hassuffix anchor one
                # side to a term boundary. The needle is regex-escaped
                # at runtime (every non-alphanumeric char backslashed),
                # so column-valued needles work too; `has_cs` drops the
                # (?i) flag. All codegen'd regexp_like, no Python.
                esc = F.regexp_replace(r, "([^a-zA-Z0-9])", r"\\$1")
                flags = "" if t == "has_cs" else "(?i)"
                lead = F.lit(f"{flags}(^|[^a-zA-Z0-9])")
                tail = F.lit("($|[^a-zA-Z0-9])")
                if t == "hasprefix":
                    pat = F.concat(lead, esc)
                elif t == "hassuffix":
                    pat = F.concat(F.lit(flags), esc, tail)
                else:
                    pat = F.concat(lead, esc, tail)
                hit = F.regexp_like(l, pat)
                return KE(~hit if t == "!has" else hit)
            if t == "contains":  # case-insensitive by default
                return KE(F.lower(l).contains(F.lower(r)))
            if t == "contains_cs":
                return KE(l.contains(r))
            if t == "startswith":
                return KE(F.lower(l).startswith(F.lower(r)))
            if t == "endswith":
                return KE(F.lower(l).endswith(F.lower(r)))
            return KE(~F.lower(l).contains(F.lower(r)))
        if t in ("has_any", "has_all"):
            # `s has_any ('a', 'b')` / `has_all` — whole-TERM matches
            # (same boundary regex as `has`), OR- / AND-combined. Each
            # needle is runtime-escaped so column-valued needles work.
            self.next()
            self.expect("(")
            items = [self._or()]
            while self.peek().text == ",":
                self.next()
                items.append(self._or())
            self.expect(")")
            lead = F.lit("(?i)(^|[^a-zA-Z0-9])")
            tail = F.lit("($|[^a-zA-Z0-9])")
            cond = None
            for i in items:
                esc = F.regexp_replace(
                    i.col, "([^a-zA-Z0-9])", r"\\$1")
                hit = F.regexp_like(
                    left.col, F.concat(lead, esc, tail))
                if cond is None:
                    cond = hit
                elif t == "has_any":
                    cond = cond | hit
                else:
                    cond = cond & hit
            return KE(cond)
        if t in ("in", "in~", "!in", "!in~"):
            self.next()
            self.expect("(")
            items = [self._or()]
            while self.peek().text == ",":
                self.next()
                items.append(self._or())
            self.expect(")")
            cols = [i.col for i in items]
            if t == "in":
                return KE(left.col.isin(*cols))
            if t == "!in":
                return KE(~left.col.isin(*cols))
            low = F.lower(left.col)
            cond = low.isin(*[F.lower(i) for i in cols])
            return KE(cond if t == "in~" else ~cond)
        if t == "matches":
            self.next()
            self.expect("regex")
            pat = self._add()
            return KE(left.col.rlike(_lit_str(pat)))
        if t == "between":  # x between (lo .. hi), inclusive (kql.pest)
            self.next()
            self.expect("(")
            lo = self._add()
            self.expect("..")
            hi = self._add()
            self.expect(")")
            return KE((left.col >= lo.col) & (left.col <= hi.col))
        return left

    def _add(self) -> KE:
        left = self._mul()
        while self.peek().text in ("+", "-"):
            op = self.next().text
            right = self._mul()
            left = KE(left.col + right.col if op == "+" else left.col - right.col)
        return left

    def _mul(self) -> KE:
        left = self._unary()
        while self.peek().text in ("*", "/", "%"):
            op = self.next().text
            right = self._unary()
            if op == "*":
                left = KE(left.col * right.col)
            elif op == "/":
                left = KE(left.col / right.col)
            else:
                left = KE(left.col % right.col)
        return left

    def _unary(self) -> KE:
        t = self.peek()
        if t.text == "-":
            self.next()
            inner = self._unary()
            if inner.is_lit and isinstance(inner.lit, (int, float)) \
                    and not isinstance(inner.lit, bool):
                return _mklit(-inner.lit)
            return KE(-inner.col)
        if t.text == "not":
            self.next()
            self.expect("(")
            inner = self._or()
            self.expect(")")
            return KE(~inner.col)
        return self._postfix()

    def _postfix(self) -> KE:
        c = self._primary()
        while True:
            t = self.peek().text
            if t == "[":  # accessor a['k'] / a[0] (kql.pest:112-115)
                self.next()
                idx = self._or()
                self.expect("]")
                key = idx.lit
                if c.variant:
                    c = _variant_get(c, key)
                elif isinstance(key, str):
                    c = KE(c.col.getItem(key))
                elif not isinstance(key, bool) and isinstance(key, (int, float)):
                    c = KE(c.col.getItem(int(key)))
                else:
                    # computed index — Kusto arrays are 0-based while
                    # element_at is 1-based (and THROWS on 0), so shift
                    # by one and null out negatives / out-of-range
                    # (try_element_at). Computed keys on non-variant
                    # maps aren't reachable here: bag columns are
                    # VARIANT (the branch above) and literal string
                    # keys take the getItem branch.
                    i = idx.col.cast("bigint")
                    c = KE(F.when(i >= 0,
                                  F.try_element_at(c.col, (i + 1)
                                                   .cast("int"))))
            elif t == ".":  # dotted path a.b (incl. resource./scope. scoping)
                self.next()
                field = self.next()
                if field.kind != "ident":
                    raise KqlError(
                        f"expected field name after '.', got {field.text!r}"
                    )
                if c.variant:
                    c = _variant_get(c, field.text)
                else:
                    c = KE(c.col.getField(field.text))
            else:
                return c

    def _primary(self) -> KE:
        t = self.next()
        if t.text == "(":
            inner = self._or()
            self.expect(")")
            return inner
        if t.text == "[":  # bare array literal (OTTL lists; ≙ dynamic([...]))
            items = []
            if self.peek().text != "]":
                items.append(self._or())
                while self.peek().text == ",":
                    self.next()
                    items.append(self._or())
            self.expect("]")
            return KE(F.array(*[i.col for i in items]))
        if t.kind == "number":
            txt = t.text
            if txt[:2].lower() == "0x":
                return _mklit(int(txt, 16))
            return _mklit(float(txt) if "." in txt else int(txt))
        if t.kind == "string":
            return _mklit(_unquote(t.text))
        if t.kind == "datetime":
            inner = t.text[len("datetime("):-1].strip().strip("'\"")
            return KE(F.lit(inner).cast("timestamp"))
        if t.kind == "timespan":  # timespan literal 1h/5m/… (kql.pest:118-121)
            secs = _timespan_secs(t.text)
            col = F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.lit(secs))
            return KE(col, t.text)  # lit = "1h" — recoverable by bin()
        if t.kind in ("ident", "bang_ident"):
            name = t.text
            if name == "true":
                return _mklit(True)
            if name == "false":
                return _mklit(False)
            if name == "null":
                return KE(F.lit(None))
            if name == "dynamic" and self.peek().text == "(":
                return self._dynamic()
            if self.peek().text == "(":
                return self._call(name)
            if name in self.bindings:  # `let` constant — Catalyst folds it
                b = self.bindings[name]
                if isinstance(b, KqlFunc):
                    raise KqlError(
                        f"{name} is a function — call it: {name}(…)"
                    )
                return b if isinstance(b, KE) else KE(b)
            return KE(F.col(name), variant=name in self.variant_cols,
                      bag_map=self.bag_twins.get(name))
        raise KqlError(f"unexpected token {t.text!r}" if t.kind != "eof"
                       else "unexpected end of input")

    def _dynamic(self) -> KE:
        """dynamic([..]) array / dynamic({..}) map literals
        (kql.pest:126-133)."""
        self.expect("(")
        t = self.next()
        bag_map = None
        if t.text == "[":
            items = []
            if self.peek().text != "]":
                items.append(self._or())
                while self.peek().text == ",":
                    self.next()
                    items.append(self._or())
            self.expect("]")
            out = F.array(*[i.col for i in items])
        elif t.text == "{":
            kvs: list[KE] = []
            if self.peek().text != "}":
                while True:
                    key = self.next()
                    if key.kind not in ("string", "ident"):
                        raise KqlError("dynamic map key must be string")
                    kname = _unquote(key.text) if key.kind == "string" else key.text
                    self.expect(":")
                    kvs += [_mklit(kname), self._or()]
                    if self.peek().text != ",":
                        break
                    self.next()
            self.expect("}")
            out = F.create_map(*[kv.col for kv in kvs])
            # accessors read the map; bag functions read bag_pack's twin
            bag_map = _bag_pack(kvs).bag_map if kvs else None
        else:
            raise KqlError("dynamic() needs [..] or {..}")
        self.expect(")")
        return KE(out, bag_map=bag_map)

    def _call(self, name: str) -> KE:
        self.expect("(")
        if (name.lower() == "typeof"
                and self.peek().text.lower() in _TYPE_KEYWORDS
                and self.toks[self.pos + 1].text == ")"):
            # `typeof(long)` as a TYPE LITERAL (the extract_json /
            # column_ifexists sugar) — a bare type keyword inside
            # typeof() is a type name, not a column ref (a column
            # actually named `long` would need tostring() first;
            # documented)
            kw = self.next().text.lower()
            self.expect(")")
            return KE(F.lit(kw), kw)
        args: list[KE] = []
        if self.peek().text != ")":
            args.append(self._or())
            while self.peek().text == ",":
                self.next()
                args.append(self._or())
        self.expect(")")
        ufn = self.bindings.get(name)
        if isinstance(ufn, KqlFunc):  # user function shadows builtins
            if ufn.table_params:
                raise KqlError(
                    f"{name}() is table-valued — apply it with "
                    f"`| invoke {name}(…)`"
                )
            _check_arity(name, len(args), len(ufn.params), len(ufn.params))
            if ufn.expanding:
                raise KqlError(f"recursive user function {name}()")
            child = dict(self.bindings)
            for (pname, _kind), a in zip(ufn.params, args):
                child[pname] = a
            ufn.expanding = True
            try:
                return parse_expr_ke(ufn.body, child, wspec=self.wspec)
            finally:
                ufn.expanding = False
        lname = name.lower()
        if lname not in _FUNCS:
            raise KqlError(f"unknown function {name}")
        lo, hi, build = _FUNCS[lname]
        _check_arity(name, len(args), lo, hi)
        if lname in _VARIANT_VIA_STRING and args[0].variant:
            # numeric/bool conversion of a dynamic value: VARIANT casts
            # cleanly to string but try_cast to numeric yields NULL —
            # route through the string form (KQL toint(dyn) semantics)
            args = [KE(args[0].col.cast("string")), *args[1:]]
        return build(self, args)

    # -- builtins that need KE arguments or the parser's state ---------

    @_builtin("case", 3, None)  # case(p1, v1, …, default) (kql.pest:151-153)
    def _fn_case(self, args):
        if len(args) % 2 == 0:
            raise KqlError("case() needs odd ≥3 args")
        c = F.when(args[0].col, args[1].col)
        for i in range(2, len(args) - 1, 2):
            c = c.when(args[i].col, args[i + 1].col)
        return KE(c.otherwise(args[-1].col))

    @_builtin("bin_auto", 1, 1)
    def _fn_bin_auto(self, args):
        # bin_auto(value) — bin()/bin_at() whose width (and optional
        # anchor) come from the bound query properties
        # `query_bin_auto_size` / `query_bin_auto_at`. Kusto binds them
        # with `set`; this engine's `let` is the same constant-binding
        # mechanism, so the properties are plain let statements.
        size = self.bindings.get("query_bin_auto_size")
        if not isinstance(size, KE) or not size.is_lit:
            raise KqlError(
                "bin_auto needs a literal"
                " `let query_bin_auto_size = …;` binding")
        anchor = self.bindings.get("query_bin_auto_at")
        if anchor is None:
            return self._fn_bin([args[0], size])
        if not isinstance(anchor, KE):
            raise KqlError("query_bin_auto_at must be a scalar literal")
        return self._fn_bin_at([args[0], size, anchor])

    @_builtin("bin", 2, 2)  # math bin (math_scalar_expression.rs:13)
    def _fn_bin(self, args):
        from otel_arrow_spark.operators.kql import bin_

        if not args[1].is_lit:
            raise KqlError("bin() width must be a literal")
        w = args[1].lit
        if not isinstance(w, bool) and isinstance(w, (int, float)):
            return KE(F.floor(args[0].col / F.lit(w)) * F.lit(w))
        return KE(bin_(args[0].col, str(w)))

    @_builtin("floor", 1, 2)
    def _fn_floor(self, args):
        # floor(x) rounds down; floor(x, roundTo) is Kusto's alias of bin
        if len(args) == 1:
            return KE(F.floor(args[0].col))
        return self._fn_bin(args)

    @_builtin("bin_at", 3, 3)
    def _fn_bin_at(self, args):
        from otel_arrow_spark.operators.kql import bin_at_

        if not args[1].is_lit:
            raise KqlError("bin_at() width must be a literal")
        w = args[1].lit
        if not isinstance(w, bool) and isinstance(w, (int, float)):
            # numeric grid anchored at args[2]
            return KE(
                args[2].col
                + F.floor((args[0].col - args[2].col) / F.lit(w))
                * F.lit(w)
            )
        return KE(bin_at_(args[0].col, str(w), args[2].col))

    # literal-argument functions (patterns, delimiters, counts)
    @_builtin("strcat_delim", 1, None)
    def _fn_strcat_delim(self, args):
        return KE(F.concat_ws(_lit_str(args[0]),
                              *[a.col for a in args[1:]]))

    @_builtin("substring", 2, 3)
    def _fn_substring(self, args):
        start = _lit_int(args[1])
        if len(args) > 2:
            return KE(F.substring(args[0].col, start + 1,
                                  _lit_int(args[2])))
        return KE(F.substring(args[0].col, start + 1, 1 << 30))

    @_builtin("extract", 3, 3)
    def _fn_extract(self, args):
        return KE(F.regexp_extract(args[2].col, _lit_str(args[0]),
                                   _lit_int(args[1])))

    @_builtin("split", 2, 3)
    def _fn_split(self, args):
        d = _lit_str(args[1])
        # Kusto's delimiter is a PLAIN string; Spark's is a regex.
        # Literal-quote with \Q…\E (embedded \E spliced out, same
        # discipline as _countof_overlapping) so metachar delimiters
        # ('.', '|', '+', …) split literally.
        quoted = "\\Q" + d.replace("\\E", "\\E\\\\E\\Q") + "\\E"
        parts = F.split(args[0].col, quoted)
        if len(args) == 2:
            return KE(parts)
        # requestedIndex (0-based): single-element array with that
        # substring; EMPTY array when out of range (Kusto). A negative
        # index becomes a null position — element index 0 would raise
        # INVALID_INDEX_OF_ZERO on the executor.
        idx = args[2].col.cast("int")
        pos = F.when(idx >= 0, idx + 1)
        return KE(F.array_compact(
            F.array(F.try_element_at(parts, pos))))

    @_builtin("array_join", 2, 2)
    def _fn_array_join(self, args):
        return KE(F.array_join(args[0].col, _lit_str(args[1])))

    @_builtin("round", 1, 2)
    def _fn_round(self, args):
        digits = _lit_int(args[1]) if len(args) > 1 else 0
        return KE(F.round(args[0].col, digits))

    @_builtin("extract_all parse_regex", 2, 2)
    def _fn_extract_all(self, args):
        # extract_all(pattern, s) — array of matches; with a capture
        # group the group's text, else the whole match
        # (parse_scalar_expression.rs:7-14 ParseRegex)
        pat = _lit_str(args[0])
        grp = 1 if re.compile(pat).groups >= 1 else 0
        return KE(F.regexp_extract_all(args[1].col, F.lit(pat), grp))

    @_builtin("countof", 2, 3)
    def _fn_countof(self, args):
        # countof(text, search[, kind]) — kind=normal (the default)
        # counts OVERLAPPING plain-string matches, kind=regex counts
        # regex matches (non-overlapping, Kusto's rule)
        kind = _lit_str(args[2]) if len(args) == 3 else "normal"
        if kind == "regex":
            return KE(F.size(F.regexp_extract_all(
                args[0].col, F.lit(_lit_str(args[1])), 0
            )).cast("bigint"))
        if kind != "normal":
            raise KqlError("countof kind must be 'normal' or 'regex'")
        return KE(_countof_overlapping(args[0].col, args[1].col))

    @_builtin("parse_csv", 1, 1)
    def _fn_parse_csv(self, args):
        # parse_csv(line) → array of fields, RFC-4180 quote-aware:
        # split on commas OUTSIDE double quotes (Java-regex lookahead —
        # even quote count to line end), then strip surrounding quotes
        # and unescape "" per field. Single-line records (Kusto's
        # scalar behaves the same).
        parts = F.split(
            args[0].col, r',(?=(?:[^"]*"[^"]*")*[^"]*$)')
        return KE(F.transform(
            parts,
            lambda f: F.when(
                f.rlike('^".*"$'),
                F.replace(
                    F.substring(f, F.lit(2), F.length(f) - 2),
                    F.lit('""'), F.lit('"')),
            ).otherwise(f)))

    @_builtin("parse_user_agent", 1, 2)
    def _fn_parse_user_agent(self, args):
        # parse_user_agent(ua[, look_for]) → dynamic
        # {Browser: {Family, MajorVersion}, OperatingSystem: {Family}}.
        # Family/major-version SUBSET of Kusto's UA parser: Kusto ships
        # the full uap-core regex corpus (thousands of patterns); this
        # engine covers the major engine families (Edge/Opera/Chrome/
        # Firefox/Safari/IE; Windows/Android/iOS/macOS/Linux) with
        # ordered rlike chains — Edge and Opera before Chrome (their
        # UAs embed `Chrome/`), iOS before macOS (iPad UAs embed
        # `Mac OS X`), Android before Linux. Everything stays regexp
        # codegen; unknown agents yield null fields, like Kusto's
        # "Other" family. The optional look_for argument is accepted
        # and ignored — both sections are always emitted (documented
        # deviation).
        ua = args[0].col.cast("string")
        fams = [
            ("Edge", r"Edg(?:e|A|iOS)?/", r"Edg(?:e|A|iOS)?/(\d+)"),
            ("Opera", r"OPR/|Opera[/ ]", r"(?:OPR|Opera)[/ ](\d+)"),
            ("Chrome", r"Chrome/", r"Chrome/(\d+)"),
            ("Firefox", r"Firefox/", r"Firefox/(\d+)"),
            ("Safari", r"Version/\d+[^,]*Safari", r"Version/(\d+)"),
            ("Internet Explorer", r"MSIE |Trident/",
             r"(?:MSIE |Trident/.*rv:)(\d+)"),
        ]
        b_fam, b_ver = F.lit(None).cast("string"), F.lit(None)
        for fam, probe, verpat in reversed(fams):
            hit = ua.rlike(probe)
            b_fam = F.when(hit, F.lit(fam)).otherwise(b_fam)
            b_ver = F.when(
                hit, F.nullif(F.regexp_extract(ua, verpat, 1),
                              F.lit(""))).otherwise(b_ver)
        os_fam = (
            F.when(ua.rlike(r"Windows NT"), "Windows")
            .when(ua.rlike(r"Android"), "Android")
            .when(ua.rlike(r"iPhone|iPad|iPod"), "iOS")
            .when(ua.rlike(r"Mac OS X"), "macOS")
            .when(ua.rlike(r"Linux"), "Linux"))
        m = F.struct(
            F.struct(b_fam.alias("Family"),
                     b_ver.alias("MajorVersion")).alias("Browser"),
            F.struct(os_fam.alias("Family")).alias("OperatingSystem"))
        return KE(F.parse_json(F.to_json(m)), variant=True)

    @_builtin("bag_zip", 2, 2)
    def _fn_bag_zip(self, args):
        # bag_zip(keys, values) → dynamic bag; keys beyond the value
        # array get null values, surplus values are ignored (Kusto's
        # rule). Null keys are skipped and duplicate keys keep the
        # FIRST occurrence — Kusto degrades gracefully on malformed key
        # arrays, whereas a bare map_from_arrays would raise (Spark
        # forbids null map keys and the default dedup policy is
        # EXCEPTION), crashing the job on data-dependent keys.
        keys = F.transform(args[0].col, lambda k: k.cast("string"))
        vals = args[1].col
        padded = F.transform(
            F.sequence(F.lit(0), F.size(keys) - 1),
            lambda i: F.try_element_at(vals, i.cast("int") + 1))
        entries = F.filter(
            F.zip_with(keys, padded, lambda k, v: F.struct(
                k.alias("key"), v.alias("value"))),
            lambda e: e["key"].isNotNull())
        ekeys = F.transform(entries, lambda e: e["key"])
        dedup = F.filter(
            entries,
            lambda e, i: F.array_position(ekeys, e["key"]) == i + 1)
        m = F.map_from_entries(dedup)
        return KE(F.parse_json(F.to_json(m)), variant=True)

    @_builtin("format_bytes", 1, 2)
    def _fn_format_bytes(self, args):
        # format_bytes(size[, precision]) — auto unit ladder (binary
        # 1024 steps, Kusto's units), fixed-precision round
        size = args[0].col.cast("double")
        prec = _lit_int(args[1]) if len(args) > 1 else 0
        if not 0 <= prec <= 38:
            raise KqlError(
                f"format_bytes() precision must be in 0..38, got {prec}")
        steps = [("PB", 1024.0 ** 5), ("TB", 1024.0 ** 4),
                 ("GB", 1024.0 ** 3), ("MB", 1024.0 ** 2),
                 ("KB", 1024.0)]

        def _fmt(v: Column) -> Column:
            # fixed-precision decimal string (no locale separators)
            return F.round(v, prec).cast(
                f"decimal(38,{prec})").cast("string")

        expr = F.concat(_fmt(size), F.lit(" Bytes"))
        for unit, div in reversed(steps):
            expr = F.when(
                F.abs(size) >= div,
                F.concat(_fmt(size / F.lit(div)), F.lit(f" {unit}")),
            ).otherwise(expr)
        return KE(expr)

    @_builtin("parse_path", 1, 1)
    def _fn_parse_path(self, args):
        # parse_path(path) → dynamic bag of path components (Kusto
        # shape; both / and \ separators). ADS names are not parsed
        # (empty string, documented subset).
        p = args[0].col
        return KE(F.parse_json(F.to_json(F.struct(
            F.regexp_extract(
                p, r"^([A-Za-z][A-Za-z0-9+.\-]*):[/\\]", 1
            ).alias("Scheme"),
            F.regexp_extract(
                p, r"^([A-Za-z]:|[/\\])", 1).alias("RootPath"),
            F.regexp_extract(
                p, r"^(.*)[/\\][^/\\]*$", 1).alias("DirectoryPath"),
            F.regexp_extract(
                p, r"([^/\\]+)[/\\][^/\\]*$", 1
            ).alias("DirectoryName"),
            F.regexp_extract(p, r"([^/\\]*)$", 1).alias("Filename"),
            F.regexp_extract(
                p, r"\.([^./\\]+)$", 1).alias("Extension"),
            F.lit("").alias("AlternateDataStreamName"),
        ))), variant=True)

    @_builtin("unicode_codepoints_from_string to_utf8", 1, 1)
    def _fn_to_utf8(self, args):
        # per-character codepoint array — one transform over a
        # character-index sequence; F.ascii returns the full codepoint
        # of the first character (BMP + astral — Spark strings are
        # codepoint-indexed)
        s = args[0].col
        return KE(F.when(
            F.length(s) > 0,
            F.transform(
                F.sequence(F.lit(1), F.length(s)),
                lambda i: F.ascii(
                    F.substring(s, i, F.lit(1))).cast("bigint")),
        ).otherwise(F.array().cast("array<bigint>")))

    @_builtin("unicode_codepoints_to_string make_string", 1, None)
    def _fn_make_string(self, args):
        # make_string is the documented inverse of to_utf8 —
        # codepoints → string. The multi-arg form takes scalar
        # codepoints (make_string(72, 105)); the 1-arg form takes the
        # codepoint array.
        arr = (args[0].col if len(args) == 1
               else F.array(*[a.col for a in args]))
        return KE(F.array_join(
            F.transform(arr, lambda c: F.char(c.cast("int"))), ""))

    @_builtin("geo_point_to_geohash", 2, 3)
    def _fn_geo_point_to_geohash(self, args):
        # geo_point_to_geohash(longitude, latitude[, accuracy])
        acc = _lit_int(args[2]) if len(args) > 2 else 5
        if not 1 <= acc <= 18:
            raise KqlError("geohash accuracy must be 1..18")
        return KE(_geohash_encode(args[0].col, args[1].col, acc))

    @_builtin("geo_geohash_to_central_point", 1, 1)
    def _fn_geo_geohash_to_central_point(self, args):
        return KE(_geohash_decode(args[0].col), variant=True)

    @_builtin("geo_point_in_polygon", 3, 3)
    def _fn_geo_point_in_polygon(self, args):
        # geo_point_in_polygon(longitude, latitude, polygon) — polygon
        # is a GeoJSON Polygon dynamic {"type","coordinates":[outer,
        # hole, …]}: inside the outer ring and inside no hole, each
        # ring an even-odd ray cast (_geo_ring_contains). PLANAR-EDGE
        # SUBSET of Kusto's spherical geodesic edges — agrees for the
        # small cells telemetry geofencing uses, diverges on
        # continent-scale edges or rings crossing the antimeridian
        # (documented; the geodesic variant needs a geometry library
        # this container does not ship).
        lon = args[0].col.cast("double")
        lat = args[1].col.cast("double")
        rings = _geojson_coords(
            args[2], "array<array<array<double>>>", 3)

        def _pip(r: Column) -> Column:
            inside = _geo_ring_contains(lon, lat, F.get(r, 0))
            holes = F.slice(
                r, F.lit(2),
                F.greatest(F.size(r) - F.lit(1), F.lit(0)))
            in_hole = F.exists(
                holes, lambda h: _geo_ring_contains(lon, lat, h))
            return inside & ~F.coalesce(in_hole, F.lit(False))

        return KE(_let(rings, _pip))

    @_builtin("geo_polygon_area", 1, 1)
    def _fn_geo_polygon_area(self, args):
        # geo_polygon_area(polygon) — GeoJSON Polygon area in m²:
        # outer-ring spherical area minus the holes (_geo_ring_area,
        # the Chamberlain–Duquette approximation of Kusto's geodesic
        # area — documented divergence for continent-scale rings).
        rings = _geojson_coords(
            args[0], "array<array<array<double>>>", 3)

        def _area(r: Column) -> Column:
            holes = F.slice(
                r, F.lit(2),
                F.greatest(F.size(r) - F.lit(1), F.lit(0)))
            hole_sum = F.aggregate(
                holes, F.lit(0.0),
                lambda acc, h: acc + _geo_ring_area(h))
            return (_geo_ring_area(F.get(r, 0))
                    - F.coalesce(hole_sum, F.lit(0.0)))

        return KE(_let(rings, _area))

    @_builtin("geo_distance_point_to_line", 3, 3)
    def _fn_geo_distance_point_to_line(self, args):
        # geo_distance_point_to_line(longitude, latitude, line) —
        # minimum spherical distance (m) from the point to a GeoJSON
        # LineString: min over segments of the cross-track/
        # endpoint-clamped distance (_geo_seg_point_dist). Same
        # planar-edge caveats as the other geo fns (documented);
        # literal lines fold at compile time, data-dependent ones parse
        # once per row via _let. NULL for fewer than 2 vertices.
        lon = args[0].col.cast("double")
        lat = args[1].col.cast("double")
        pts0 = _geojson_coords(args[2], "array<array<double>>", 2)

        def _p2l(pts: Column) -> Column:
            idx = F.sequence(F.lit(0), F.size(pts) - F.lit(2))
            return F.when(
                F.size(pts) >= F.lit(2),
                F.array_min(F.transform(
                    idx,
                    lambda i: _geo_seg_point_dist(
                        lon, lat,
                        F.get(F.get(pts, i), 0),
                        F.get(F.get(pts, i), 1),
                        F.get(F.get(pts, i + F.lit(1)), 0),
                        F.get(F.get(pts, i + F.lit(1)), 1)))),
            )

        return KE(_let(pts0, _p2l))

    @_builtin("geo_line_length", 1, 1)
    def _fn_geo_line_length(self, args):
        # geo_line_length(lineString) — GeoJSON LineString length in
        # meters: haversine sum over consecutive vertex pairs (the same
        # spherical model as geo_distance_2points), folded with
        # F.aggregate. NULL for fewer than 2 vertices.
        pts0 = _geojson_coords(args[0], "array<array<double>>", 2)

        def _llen(pts: Column) -> Column:
            idx = F.sequence(F.lit(0), F.size(pts) - F.lit(2))
            seg = F.aggregate(
                idx, F.lit(0.0),
                lambda acc, i: acc + _geo_distance(
                    F.get(F.get(pts, i), 0),
                    F.get(F.get(pts, i), 1),
                    F.get(F.get(pts, i + F.lit(1)), 0),
                    F.get(F.get(pts, i + F.lit(1)), 1)))
            return F.when(F.size(pts) >= F.lit(2), seg)

        return KE(_let(pts0, _llen))

    @_builtin("series_fft", 1, 2)
    def _fn_series_fft(self, args, inv=False):
        # series_fft(re [, im]) — {re, im} bag (this engine's
        # two-output shape; Kusto multi-assigns). Direct DFT — see
        # _series_dft.
        def _num_arr(ke: KE) -> Column:
            # dynamic (VARIANT) series re-enter array land via the JSON
            # text (todynamic(tostring(f.re)) round-trips)
            c = ke.col
            if ke.variant:
                c = F.from_json(c.cast("string"), "array<double>")
            return F.transform(c, lambda v: v.cast("double"))

        re_in = _num_arr(args[0])
        im_in = (_num_arr(args[1]) if len(args) == 2
                 else F.transform(re_in, lambda _: F.lit(0.0)))
        return KE(_series_dft(
            re_in, im_in, 1.0 if inv else -1.0, inv), variant=True)

    @_builtin("series_ifft", 1, 2)
    def _fn_series_ifft(self, args):
        return self._fn_series_fft(args, inv=True)

    @_builtin("series_stats_dynamic", 1, 1)
    def _fn_series_stats_dynamic(self, args):
        # one bag with the full series_stats tuple (min/max with
        # first-occurrence indices, avg, stdev, variance, sum, len) —
        # pure array arithmetic, rendered to dynamic once
        xs = F.transform(args[0].col, lambda v: v.cast("double"))
        n = F.size(xs).cast("double")
        s1 = F.aggregate(
            xs, F.lit(0.0), lambda acc, v: acc + v)
        s2 = F.aggregate(
            xs, F.lit(0.0), lambda acc, v: acc + v * v)
        var = F.when(
            F.size(xs) > 1, (s2 - s1 * s1 / n) / (n - 1.0))
        bag = F.struct(
            F.array_min(xs).alias("min"),
            (F.array_position(xs, F.array_min(xs)) - 1)
            .cast("bigint").alias("min_idx"),
            F.array_max(xs).alias("max"),
            (F.array_position(xs, F.array_max(xs)) - 1)
            .cast("bigint").alias("max_idx"),
            (s1 / n).alias("avg"),
            F.sqrt(var).alias("stdev"),
            var.alias("variance"),
            s1.alias("sum"),
            F.size(xs).cast("bigint").alias("len"))
        return KE(F.parse_json(F.to_json(bag)), variant=True)

    @_builtin("extract_json extractjson", 2, 3)
    def _fn_extract_json(self, args):
        # extract_json(path, source) — JSONPath subset ($.a.b[0], the
        # Hive get_json_object dialect == Kusto's documented subset).
        # The path must be a literal (it is in Kusto too: the engine
        # compiles it). Optional typeof third arg is honored for
        # long/real/bool/string (Kusto's sugar for a cast on the
        # extracted text).
        got = F.get_json_object(
            args[1].col.cast("string"), _lit_str(args[0]))
        if len(args) == 3:
            ty = _lit_str(args[2]).strip().lower()
            casts = {"long": "bigint", "int": "int",
                     "real": "double", "double": "double",
                     "bool": "boolean", "boolean": "boolean",
                     "string": None, "datetime": "timestamp_ntz"}
            if ty not in casts:
                raise KqlError(f"extract_json: unsupported typeof({ty})")
            if casts[ty]:
                got = got.try_cast(casts[ty])
        return KE(got)

    @_builtin("capture", 2, 3)
    def _fn_capture(self, args):
        # capture(s, pattern[, group]) — single-capture twin of extract
        # (text exec `text_scalar_expressions.rs` Capture)
        grp = _lit_int(args[2]) if len(args) > 2 else 1
        return KE(F.regexp_extract(args[0].col, _lit_str(args[1]), grp))

    @_builtin("totimespan", 1, 1)
    def _fn_totimespan(self, args):
        # literal timespan string "1h" / "90s" / "250ms"
        # (convert_scalar_expression.rs:7-24 ToTimespan)
        src = _lit_str(args[0])
        secs = _timespan_secs(src)
        return KE(
            F.make_dt_interval(F.lit(0), F.lit(0), F.lit(0), F.lit(secs)),
            src,
        )

    @_builtin("make_timespan", 2, 4)
    def _fn_make_timespan(self, args):
        # make_timespan([day,] hour, minute[, second]) — Kusto's three
        # arities map 1:1 onto make_dt_interval
        if len(args) == 2:
            d, h, m, s = (F.lit(0), args[0].col, args[1].col, F.lit(0.0))
        elif len(args) == 3:
            d, h, m, s = (F.lit(0), args[0].col, args[1].col, args[2].col)
        else:
            d, h, m, s = (a.col for a in args)
        return KE(F.make_dt_interval(
            d.cast("int"), h.cast("int"), m.cast("int"),
            s.cast("double")))

    @_builtin("replace_regex", 3, 3)
    def _fn_replace_regex(self, args):
        # replace_regex(source, pattern, rewrite) — Kusto rewrites use
        # RE2 \1 backrefs; Java uses $1. Translate literal rewrites
        # (protecting literal $); column rewrites pass through
        # untranslated.
        rw = args[2]
        if rw.is_lit and isinstance(rw.lit, str):
            java = rw.lit.replace("$", "\\$")
            java = re.sub(r"\\(\d)", r"$\1", java)
            return KE(F.regexp_replace(
                args[0].col, args[1].col, F.lit(java)))
        return KE(F.regexp_replace(args[0].col, args[1].col, rw.col))

    @_builtin("datetime_part", 2, 2)
    def _fn_datetime_part(self, args):
        # datetime_part('part', d) — extract a named date part
        part = _lit_str(args[0]).lower()
        extractors = {
            "year": F.year, "month": F.month, "day": F.dayofmonth,
            "hour": F.hour, "minute": F.minute, "second": F.second,
            "weekofyear": F.weekofyear, "dayofyear": F.dayofyear,
            "quarter": F.quarter,
        }
        if part not in extractors:
            raise KqlError(f"datetime_part: unknown part {part!r}")
        return KE(extractors[part](args[1].col).cast("bigint"))

    @_builtin("datetime_diff", 3, 3)
    def _fn_datetime_diff(self, args):
        # datetime_diff('part', d1, d2) = d1 - d2 in whole parts;
        # timestamp_diff(unit, start, end) = end - start
        return KE(F.timestamp_diff(
            _lit_str(args[0]).upper(), args[2].col, args[1].col
        ))

    @_builtin("datetime_add", 3, 3)
    def _fn_datetime_add(self, args):
        return KE(F.timestamp_add(
            _lit_str(args[0]).upper(), args[1].col, args[2].col
        ))

    @_builtin("ismatch", 2, 2)  # OTTL IsMatch(target, pattern)
    def _fn_ismatch(self, args):
        return KE(args[0].col.rlike(_lit_str(args[1])))

    @_builtin("concat", 2, None)  # OTTL Concat([parts…], delim) / varargs
    def _fn_concat(self, args):
        delim = _lit_str(args[-1])
        parts = [a.col for a in args[:-1]]
        if len(parts) == 1:
            return KE(F.array_join(parts[0], delim))
        return KE(F.concat_ws(delim, *parts))

    @_builtin("strcat_array", 2, 2)
    def _fn_strcat_array(self, args):
        # delimiter must be a literal (array_join's contract); NULL
        # elements are skipped (array_join semantics)
        return KE(F.array_join(
            args[0].col.cast("array<string>"), _lit_str(args[1])
        ))

    @_builtin("percentile", 2, 2)
    def _fn_percentile(self, args):
        return KE(F.percentile_approx(args[0].col,
                                      _lit_int(args[1]) / 100.0))

    @_builtin("tdigest merge_tdigest tdigest_merge", 1, 1)
    def _fn_tdigest(self, args):
        # tdigest sketches compose ONLY inside
        # percentile_tdigest/rank_tdigest in the same aggregate — this
        # engine's "digest" is lossless (Catalyst's exact percentile
        # replaces the sketch), so the composed result is the exact
        # percentile, a strict superset of t-digest's accuracy
        # contract. A bare tdigest() column (opaque intermediate blob)
        # is not exposed.
        return KE(args[0].col, lit="__tdigest__")

    @_builtin("percentile_tdigest", 2, 2)
    def _fn_percentile_tdigest(self, args):
        if (args[0].lit != "__tdigest__"
                or not isinstance(args[1].lit, (int, float))):
            raise KqlError(
                "percentile_tdigest must compose as "
                "percentile_tdigest(tdigest(x), p) within one "
                "summarize (engine subset — the digest is "
                "lossless, so this is the exact percentile)")
        return KE(F.percentile(
            args[0].col.cast("double"),
            F.lit(float(args[1].lit) / 100.0)))

    @_builtin("rank_tdigest percentrank_tdigest", 2, 2)
    def _fn_rank_tdigest(self, args):
        # relative rank of v in the digested values, as [0, 100]
        # (percentrank_tdigest is Kusto's other spelling of the same
        # percentage-of-set rank; exact under the lossless-digest
        # subset)
        if args[0].lit != "__tdigest__":
            raise KqlError(
                "rank_tdigest must compose as rank_tdigest(tdigest(x), v)")
        col, v = args[0].col, args[1].col
        return KE(F.avg(
            F.when(col.isNotNull() & (col <= v), 100.0)
            .when(col.isNotNull(), 0.0)))

    @_builtin("percentiles_array", 2, None)
    def _fn_percentiles_array(self, args):
        # percentiles_array(x, p1, p2, …) → array of exact percentiles.
        # Exact (`F.percentile`, linear interpolation — bit-identical
        # to DuckDB `quantile_cont`) for cross-engine oracles; at 100 TB
        # swap to `percentile_approx` per the summary_data_points
        # pattern (`signals.py` `exact=` switch).
        ps = [_lit_int(a) / 100.0 for a in args[1:]]
        return KE(F.percentile(args[0].col,
                               F.array(*[F.lit(p) for p in ps])))

    @_builtin("percentilesw_array", 3, None)
    def _fn_percentilesw_array(self, args):
        # percentilesw_array(x, weight, p1, p2, …) — array of exact
        # weighted percentiles; each entry is one _percentilew fold (k
        # collect buffers for k percentiles — k is a query literal,
        # same bounded-group contract as percentilew)
        return KE(F.array(*[
            _percentilew(args[0].col, args[1].col, a.col)
            for a in args[2:]
        ]))

    @_builtin("format_datetime", 2, 2)
    def _fn_format_datetime(self, args):
        # Kusto format tokens (yyyy MM dd HH mm ss …) are the Java
        # DateTimeFormatter tokens Spark's date_format consumes
        return KE(F.date_format(args[0].col, _lit_str(args[1])))

    @_builtin("parse_version", 1, 1)
    def _fn_parse_version(self, args):
        # version string → one comparable decimal: up to 4 parts of up
        # to 8 digits each; value = p1·10²⁴ + p2·10¹⁶ + p3·10⁸ + p4,
        # built as a digit-string concat (no decimal pow chain), NULL
        # on anything that isn't 1-4 dot-separated runs
        s = args[0].col
        parts = F.split(s, r"\.")
        valid = s.rlike(r"^\d{1,8}(\.\d{1,8}){0,3}$")

        def _vpart(i: int) -> Column:
            return F.coalesce(
                F.try_element_at(parts, F.lit(i)), F.lit("0"))

        num = F.concat(
            _vpart(1), F.lpad(_vpart(2), 8, "0"),
            F.lpad(_vpart(3), 8, "0"), F.lpad(_vpart(4), 8, "0"))
        return KE(F.when(valid, num.cast("decimal(38,0)")))

    @_builtin("format_timespan", 2, 2)
    def _fn_format_timespan(self, args):
        # format_timespan(t, 'd.hh:mm:ss.fff') — t is a timespan
        # (day-time interval) or plain seconds; token runs d/h/m/s/f
        # render zero-padded to the run length (format_string, so wide
        # values never truncate), everything else is literal
        fmt = _lit_str(args[1])
        total = args[0].col.cast("decimal(18,6)")
        comp = {
            "d": F.floor(total / 86400).cast("long"),
            "h": F.floor(total / 3600).cast("long") % 24,
            "m": F.floor(total / 60).cast("long") % 60,
            "s": F.floor(total).cast("long") % 60,
        }
        pieces: list[Column] = []
        for run in re.finditer(r"(d+|h+|H+|m+|s+|f+|.)", fmt):
            tok = run.group(1)
            ch, n = tok[0].lower(), len(tok)
            if tok[0] in "dhHms" and n <= 8:
                pieces.append(
                    F.format_string(f"%0{n}d", comp[ch]))
            elif tok[0] == "f":
                frac = F.floor(
                    (total - F.floor(total)) * (10 ** n)
                ).cast("long")
                pieces.append(F.format_string(f"%0{n}d", frac))
            else:
                pieces.append(F.lit(tok))
        return KE(F.concat(*pieces))

    @_builtin("trim", 1, 2)
    def _fn_trim(self, args):
        # trim(s) strips whitespace (an engine convenience); trim(regex,
        # s) strips every leading AND trailing match (Kusto)
        if len(args) == 1:
            return KE(F.trim(args[0].col))
        return self._fn_trim_end([args[0], self._fn_trim_start(args)])

    @_builtin("trim_start", 2, 2)
    def _fn_trim_start(self, args):
        # trim_start(regex, s) — strip every leading match (Kusto)
        return KE(F.regexp_replace(
            args[1].col, f"^(?:{_lit_str(args[0])})+", ""))

    @_builtin("trim_end", 2, 2)
    def _fn_trim_end(self, args):
        return KE(F.regexp_replace(
            args[1].col, f"(?:{_lit_str(args[0])})+$", ""))

    @_builtin("translate", 3, 3)
    def _fn_translate(self, args):
        # translate(searchList, replacementList, source)
        return KE(F.translate(
            args[2].col, _lit_str(args[0]), _lit_str(args[1])
        ))

    @_builtin("array_split", 2, 2)
    def _fn_array_split(self, args):
        idxs = args[1].col
        if args[1].is_lit and isinstance(args[1].lit, int):
            # scalar split point — Kusto's 1-index overload
            idxs = F.array(F.lit(args[1].lit).cast("bigint"))
        return KE(_array_split(args[0].col, idxs))

    @_builtin("bag_keys", 1, 1)
    def _fn_bag_keys(self, args):
        return KE(F.json_object_keys(_bag_json(args[0])))

    @_builtin("bag_has_key", 2, 2)
    def _fn_bag_has_key(self, args):
        # bag_has_key(bag, key) — top-level key membership
        return KE(F.coalesce(
            F.array_contains(
                F.json_object_keys(_bag_json(args[0])),
                args[1].col.cast("string")),
            F.lit(False)))

    @_builtin("indexof", 2, 3)
    def _fn_indexof(self, args):
        # indexof(s, sub[, start]) — 0-based, -1 when absent (position
        # is 1-based, 0). A start searches from a 0-based offset; a
        # NEGATIVE start is an offset from the END of the source string
        # (Kusto semantics), clamped to 0 when it underflows.
        if len(args) == 2:
            return KE((F.position(args[1].col, args[0].col) - 1)
                      .cast("bigint"))
        s, sub, start = args[0].col, args[1].col, args[2].col
        raw = start.cast("int")
        off = F.greatest(
            F.when(raw < 0, F.length(s) + raw).otherwise(raw),
            F.lit(0))
        hit = F.position(sub, F.substring(s, off + 1, F.length(s)))
        return KE(F.when(
            hit > 0, (hit + off - 1).cast("bigint")
        ).otherwise(F.lit(-1).cast("bigint")))

    @_builtin("bag_merge", 2, None)
    def _fn_bag_merge(self, args):
        # Kusto: the FIRST bag's keys win. map_concat under the default
        # EXCEPTION dedup policy must never see a duplicate, so later
        # bags are key-filtered against the accumulated map before
        # concatenation.
        merged = _bag_map(args[0])
        for a in args[1:]:
            seen = F.map_keys(merged)
            merged = F.map_concat(
                merged,
                F.map_filter(
                    _bag_map(a),
                    lambda k, _v: ~F.coalesce(
                        F.array_contains(seen, k), F.lit(False))))
        return KE(F.parse_json(F.to_json(merged)), variant=True,
                  bag_map=merged)

    @_builtin("bag_set_key", 3, 3)
    def _fn_bag_set_key(self, args):
        key = args[1].col.cast("string")
        m = F.map_concat(
            F.map_filter(_bag_map(args[0]), lambda k, _v: k != key),
            F.create_map(key, args[2].col.cast("variant")))
        return KE(F.parse_json(F.to_json(m)), variant=True, bag_map=m)

    @_builtin("bag_remove_keys", 2, 2)
    def _fn_bag_remove_keys(self, args):
        # bag_remove_keys(bag, dynamic array of key names)
        keys = args[1].col
        m = F.map_filter(
            _bag_map(args[0]),
            lambda k, _v: ~F.coalesce(
                F.array_contains(keys, k), F.lit(False)))
        return KE(F.parse_json(F.to_json(m)), variant=True, bag_map=m)

    # todynamic/toobject are documented aliases of parse_json
    @_builtin("parse_json todynamic toobject", 1, 1)
    def _fn_parse_json(self, args):
        # a literal JSON string stays carried on the KE so consumers
        # (the geo fns) can fold it at compile time
        return KE(F.parse_json(args[0].col),
                  lit=args[0].lit if args[0].is_lit else _NOT_LIT,
                  variant=True)

    @_builtin("parse_xml", 1, 1)
    def _fn_parse_xml(self, args):
        # XML → dynamic per Kusto's convention ('@attr' keys, '#text'
        # mixed content, repeated tags → list). The XML→JSON step runs
        # in the sanctioned codec seam (no XML reader in Catalyst
        # expressions); invalid XML → NULL.
        return KE(
            F.try_parse_json(_parse_xml_json(args[0].col.cast("string"))),
            variant=True)

    @_builtin("dynamic_to_json", 1, 1)
    def _fn_dynamic_to_json(self, args):
        # JSON text of a dynamic. Spark VARIANT stores object keys
        # sorted, so the parse_json path matches Kusto's sorted-key
        # canonicalization; the map-twin path renders storage order
        # (documented subset)
        if args[0].bag_map is not None:
            return KE(F.to_json(args[0].bag_map))
        return KE(F.to_json(args[0].col))

    @_builtin("bag_pack pack pack_dictionary", 2, None)
    def _fn_bag_pack(self, args):
        return _bag_pack(args)

    @_builtin("parse_url", 1, 1)
    def _fn_parse_url(self, args):
        # dynamic bag result (Kusto shape) so VARIANT path accessors
        # chain: `parse_url(u).Host`, `u['Path']`
        u = args[0].col
        return KE(F.parse_json(F.to_json(F.struct(
            F.parse_url(u, F.lit("PROTOCOL")).alias("Scheme"),
            F.parse_url(u, F.lit("HOST")).alias("Host"),
            # Hive parse_url has no PORT part — take it off the
            # authority ('' when the URL carries none, KQL's shape)
            F.regexp_extract(
                F.parse_url(u, F.lit("AUTHORITY")), r":(\d+)$", 1
            ).alias("Port"),
            F.parse_url(u, F.lit("PATH")).alias("Path"),
            F.parse_url(u, F.lit("QUERY")).alias("Query"),
            F.parse_url(u, F.lit("REF")).alias("Fragment"),
        ))), variant=True)

    # Serialized-window functions. Legal only on a serialized row set
    # (after `sort by`, optionally re-partitioned by `serialize by k…`)
    # — the same precondition KQL enforces. Each compiles to ONE
    # Catalyst Window expression over the stage-provided spec; with
    # `serialize by` keys the window is partitioned (parallel, the
    # 100 TB shape), without them it is a single ordered partition
    # (KQL's own semantics for a fully serialized table — use on
    # small/aggregated relations only; the docstring on `serialize`
    # says so).
    def _window(self, fn: str):
        if self.wspec is None:
            raise KqlError(
                f"{fn}() requires a serialized row set: `sort by …` "
                "first (add `serialize by key` to keep the window "
                "partitioned)")
        return self.wspec

    @_builtin("row_number", 0, 1)
    def _fn_row_number(self, args):
        w = self._window("row_number")
        start = _lit_int(args[0]) if args else 1
        return KE(F.row_number().over(w) + F.lit(start - 1))

    @_builtin("row_rank_min", 0, 1)
    def _fn_row_rank_min(self, args):
        return KE(F.rank().over(self._window("row_rank_min")))

    @_builtin("row_rank_dense", 0, 1)
    def _fn_row_rank_dense(self, args):
        return KE(F.dense_rank().over(self._window("row_rank_dense")))

    @_builtin("row_cumsum", 1, 2)
    def _fn_row_cumsum(self, args):
        upto = self._window("row_cumsum").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        running = F.sum(args[0].col).over(upto)
        if len(args) == 1:
            return KE(running)
        # restart form: the accumulation resets AT each row where
        # `restart` is true (that row's term included, Kusto
        # row_cumsum; a null term counts as 0 so its restart is not
        # skipped). Closed form sharing the SAME Exchange+Sort as the
        # plain running sum: with S = running total, the latest restart
        # row r at or before the current row contributes base S_r − x_r
        # (carried by last(…, ignorenulls) over the serialized window),
        # and the result is S − coalesce(base, 0) — no per-segment
        # re-partitioning, still one Window op chain over the serialize
        # spec.
        base = F.last(
            F.when(args[1].col,
                   running - F.coalesce(args[0].col, F.lit(0))),
            ignorenulls=True,
        ).over(upto)
        return KE(running - F.coalesce(base, F.lit(0)))

    @_builtin("row_window_session", 3, 3)
    def _fn_row_window_session(self, args):
        # row_window_session(ts, MaxDistanceFromFirst,
        # MaxDistanceBetweenNeighbors) — the session-START timestamp
        # per row. Gap-based subset: a new session starts when the gap
        # to the previous row exceeds the neighbor bound; the
        # from-first bound depends on the running session start
        # (inherently sequential), so it must be passed as 0
        # (= unbounded) — use `scan` for from-first windows. Closed
        # form: session start = the latest boundary row's ts at or
        # before the current row — a lag nested in a running max, two
        # Window ops sharing one Exchange + Sort.
        w = self._window("row_window_session")
        if not (args[1].is_lit and args[1].lit in (0, "0")):
            raise KqlError(
                "row_window_session: MaxDistanceFromFirst is "
                "sequential state — pass 0 (unbounded) or use "
                "the scan operator")
        if not isinstance(args[2].lit, str):
            raise KqlError(
                "row_window_session: MaxDistanceBetweenNeighbors "
                "must be a timespan literal")
        idle_us = _timespan_secs(args[2].lit) * 1_000_000.0
        ts = args[0].col
        prev_ts = F.lag(ts).over(w)
        boundary = prev_ts.isNull() | (
            F.timestamp_diff("MICROSECOND", prev_ts, ts)
            > F.lit(idle_us))
        return KE(F.max(F.when(boundary, ts)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))

    @_builtin("prev", 1, 3)
    def _fn_prev(self, args, fn=F.lag, name="prev"):
        # prev(x[, offset[, default]]) / next(…)
        w = self._window(name)
        off = _lit_int(args[1]) if len(args) > 1 else 1
        dflt = args[2].lit if len(args) > 2 else None
        if dflt is _NOT_LIT:
            raise KqlError(f"{name} default must be a literal")
        return KE(fn(args[0].col, off, dflt).over(w))

    @_builtin("next", 1, 3)
    def _fn_next(self, args):
        return self._fn_prev(args, F.lead, "next")


def parse_expr_ke(s: str, bindings: dict[str, "KE | Column"] | None = None,
                  wspec=None, variant_cols: set[str] | None = None,
                  bag_twins: dict[str, Column] | None = None) -> KE:
    p = ExprParser(tokenize(s), bindings=bindings, wspec=wspec,
                   variant_cols=variant_cols, bag_twins=bag_twins)
    c = p.parse()
    if p.peek().kind != "eof":
        raise KqlError(f"trailing tokens at {p.peek().text!r}")
    return c


def parse_expr(s: str, bindings: dict[str, "KE | Column"] | None = None,
               wspec=None, variant_cols: set[str] | None = None,
               bag_twins: dict[str, Column] | None = None) -> Column:
    return parse_expr_ke(s, bindings, wspec=wspec,
                         variant_cols=variant_cols,
                         bag_twins=bag_twins).col


# ---------------------------------------------------------------------------
# scan declare(...) expression compiler
# ---------------------------------------------------------------------------
# `scan` state-variable programs run INSIDE the per-group state machine
# (the declared accumulators ride the same Arrow batch), so expressions
# that reference declared variables cannot compile to Catalyst columns —
# the value of `total` at row i depends on the whole prefix. They
# compile ONCE at parse time to Python closures over (row, state); only
# the sequential walk is Python, never per-row parsing. Step predicates
# that do NOT touch declared state still compile to JVM flag columns
# exactly as before. Reference semantics: kql.pest scan rule +
# `query_engine` scan docs; documented subset below (bare-name variable
# refs instead of Kusto's step-qualified `s.x`, KQL 3-valued logic).

_SCAN_TOK = re.compile(
    r"\s*(?:(?P<num>\d+\.\d*|\.\d+|\d+)"
    rf"|(?P<str>{_STR_LIT})"
    r"|(?P<id>[A-Za-z_]\w*)"
    r"|(?P<op><=|>=|==|!=|[-+*/%(),<>]))"
)

def _scan_cast(a, cast):
    """Null-propagating conversion of a scan closure; a value that does
    not convert is null."""
    def f(r, s):
        v = a(r, s)
        try:
            return None if v is None else cast(v)
        except (TypeError, ValueError):
            return None
    return f


def _scan_fold(red):
    """min_of/max_of over the non-null arguments (null when none)."""
    def build(*args):
        def f(r, s):
            vals = [v for a in args if (v := a(r, s)) is not None]
            return red(vals) if vals else None
        return f
    return build


# Functions of scan expressions: name → (min_args, max_args, builder).
# A builder takes the argument closures and returns fn(row, state); the
# argument count is checked by _check_arity, like every KQL builtin.
_SCAN_FNS = {
    "strcat": (1, None, lambda *args: lambda r, s: "".join(
        "" if (v := a(r, s)) is None else str(v) for a in args)),
    "iff": (3, 3, lambda c, t, e: lambda r, s: (
        t(r, s) if c(r, s) is True else e(r, s))),
    "tolong": (1, 1, lambda a: _scan_cast(a, lambda v: int(float(v)))),
    "toreal": (1, 1, lambda a: _scan_cast(a, float)),
    "todouble": (1, 1, lambda a: _scan_cast(a, float)),
    "tostring": (1, 1, lambda a: lambda r, s: (
        "" if (v := a(r, s)) is None else str(v))),
    "strlen": (1, 1, lambda a: lambda r, s: (
        None if (v := a(r, s)) is None else len(str(v)))),
    "abs": (1, 1, lambda a: lambda r, s: (
        None if (v := a(r, s)) is None else abs(v))),
    "min_of": (1, None, _scan_fold(min)),
    "max_of": (1, None, _scan_fold(max)),
}


def _scan_tokenize(src: str) -> list[tuple[str, str]]:
    toks, i = [], 0
    while i < len(src):
        if src[i].isspace():
            i += 1
            continue
        m = _SCAN_TOK.match(src, i)
        if not m:
            raise KqlError(
                f"scan declare expression: cannot tokenize {src[i:]!r} "
                "(supported: literals, columns/variables, + - * / %, "
                f"comparisons, and/or/not, {'/'.join(_SCAN_FNS)})"
            )
        i = m.end()
        for kind in ("num", "str", "id", "op"):
            if m.group(kind) is not None:
                toks.append((kind, m.group(kind)))
                break
    return toks


def _compile_scan_expr(
    src: str, declared: frozenset
) -> tuple[object, set, bool]:
    """Compile a KQL scalar expression (subset) to a Python closure
    ``fn(row: dict, st: dict) -> value`` with Kusto null semantics:
    arithmetic/comparison with null → null, 3-valued and/or/not.
    Returns (fn, referenced_columns, references_declared_state)."""
    toks = _scan_tokenize(src)
    pos = [0]
    cols: set = set()
    uses_state = [False]

    def peek():
        return toks[pos[0]] if pos[0] < len(toks) else (None, None)

    def advance():
        t = peek()
        pos[0] += 1
        return t

    def expect(op):
        k, v = advance()
        if k != "op" or v != op:
            raise KqlError(f"scan expression {src!r}: expected {op!r}")

    def p_or():
        f = p_and()
        while peek() == ("id", "or"):
            advance()
            g = p_and()

            def h(r, s, a=f, b=g):
                x, y = a(r, s), b(r, s)
                if x is True or y is True:
                    return True
                if x is None or y is None:
                    return None
                return False
            f = h
        return f

    def p_and():
        f = p_not()
        while peek() == ("id", "and"):
            advance()
            g = p_not()

            def h(r, s, a=f, b=g):
                x, y = a(r, s), b(r, s)
                if x is False or y is False:
                    return False
                if x is None or y is None:
                    return None
                return True
            f = h
        return f

    def p_not():
        if peek() == ("id", "not"):
            advance()
            g = p_not()
            return lambda r, s, a=g: (
                None if a(r, s) is None else not a(r, s)
            )
        return p_cmp()

    _CMP = {"==": lambda a, b: a == b, "!=": lambda a, b: a != b,
            "<": lambda a, b: a < b, "<=": lambda a, b: a <= b,
            ">": lambda a, b: a > b, ">=": lambda a, b: a >= b}

    def p_cmp():
        f = p_add()
        k, v = peek()
        if k == "op" and v in _CMP:
            advance()
            g = p_add()

            def h(r, s, a=f, b=g, op=_CMP[v]):
                x, y = a(r, s), b(r, s)
                if x is None or y is None:
                    return None
                try:
                    return op(x, y)
                except TypeError:
                    return None
            return h
        return f

    def _arith(op):
        def h(x, y):
            if x is None or y is None:
                return None
            try:
                if op == "+":
                    return x + y
                if op == "-":
                    return x - y
                if op == "*":
                    return x * y
                if op == "/":
                    return None if y == 0 else x / y
                if op == "%":
                    return None if y == 0 else x % y
            except TypeError:
                return None
        return h

    def p_add():
        f = p_mul()
        while peek()[0] == "op" and peek()[1] in ("+", "-"):
            _, v = advance()
            g = p_mul()
            f = (lambda a=f, b=g, op=_arith(v):
                 lambda r, s: op(a(r, s), b(r, s)))()
        return f

    def p_mul():
        f = p_unary()
        while peek()[0] == "op" and peek()[1] in ("*", "/", "%"):
            _, v = advance()
            g = p_unary()
            f = (lambda a=f, b=g, op=_arith(v):
                 lambda r, s: op(a(r, s), b(r, s)))()
        return f

    def p_unary():
        if peek() == ("op", "-"):
            advance()
            g = p_unary()
            return lambda r, s, a=g: (
                None if a(r, s) is None else -a(r, s)
            )
        return p_primary()

    def p_primary():
        k, v = advance()
        if k == "num":
            lit = float(v) if ("." in v) else int(v)
            return lambda r, s, x=lit: x
        if k == "str":
            x = _unquote(v)
            return lambda r, s, x=x: x
        if k == "op" and v == "(":
            f = p_or()
            expect(")")
            return f
        if k == "id":
            if v == "true":
                return lambda r, s: True
            if v == "false":
                return lambda r, s: False
            if peek() == ("op", "("):
                if v not in _SCAN_FNS:
                    raise KqlError(
                        f"scan expression: unsupported function {v}()"
                    )
                advance()
                args = []
                if peek() != ("op", ")"):
                    args.append(p_or())
                    while peek() == ("op", ","):
                        advance()
                        args.append(p_or())
                expect(")")
                lo, hi, build = _SCAN_FNS[v]
                _check_arity(v, len(args), lo, hi)
                return build(*args)
            if v in declared:
                uses_state[0] = True
                return lambda r, s, n=v: s[n]
            cols.add(v)
            return lambda r, s, n=v: r[n]
        raise KqlError(f"scan expression {src!r}: parse error at {v!r}")

    fn = p_or()
    if pos[0] != len(toks):
        raise KqlError(
            f"scan expression {src!r}: trailing input "
            f"{toks[pos[0]:]!r}"
        )
    return fn, cols, uses_state[0]


_SCAN_DECL_TYPES = {
    "long": ("long", int), "int": ("long", int),
    "real": ("double", float), "double": ("double", float),
    "string": ("string", str), "bool": ("boolean", bool),
    "boolean": ("boolean", bool),
}


_ASSIGN_RE = re.compile(r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*=(?![=~])\s*(.+)$", re.S)


def _parse_assignments(s: str) -> list[tuple[str | None, str]]:
    out = []
    for part in _split_top_level(s, ","):
        m = _ASSIGN_RE.match(part)
        if m:
            out.append((m.group(1), m.group(2)))
        else:
            out.append((None, part))
    return out


_LET_RE = re.compile(r"^\s*let\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$", re.S)

# one `parse` pattern token: quoted literal | `*` | field name[:type]
_PARSE_TOKEN_RE = re.compile(
    rf"""\s*(?:({_STR_LIT})"""
    r"""|(\*)"""
    r"""|([A-Za-z_][A-Za-z0-9_]*)(?:\s*:\s*([a-z]+))?)"""
)


def _typed_cast(c: Column, ty: str | None) -> Column:
    """Apply a KQL parse-type annotation with try_cast semantics: a
    failed extraction yields '' which casts to NULL, never an ANSI
    error (`parse`/`parse-where`/`parse-kv` share this)."""
    if ty in ("long", "int"):
        return c.try_cast("bigint")
    if ty in ("double", "real"):
        return c.try_cast("double")
    if ty == "datetime":
        return c.try_cast("timestamp")
    if ty not in (None, "string"):
        raise KqlError(f"unsupported parse type {ty!r}")
    return c


def _compile_parse(rest: str, pe) -> tuple[Column, str, dict[str, Column]]:
    """Compile a `parse`/`parse-where` stage body to (source column,
    anchored regex, extraction columns). Non-final fields match lazily
    up to the next literal, the final field takes the rest (KQL
    simple-mode semantics)."""
    m2 = re.match(
        r"^(?:kind\s*=\s*simple\s+)?(.+?)\s+with\s+(.+)$",
        rest, re.S,
    )
    if not m2:
        raise KqlError("parse needs `parse [kind=simple] expr with pattern`")
    src = pe(m2.group(1))
    spec = m2.group(2).strip()
    toks: list[tuple[str, str | None, str | None]] = []
    pos = 0
    while pos < len(spec):
        m3 = _PARSE_TOKEN_RE.match(spec, pos)
        if not m3:
            raise KqlError(f"bad parse pattern at {spec[pos:pos + 20]!r}")
        pos = m3.end()
        if m3.group(1):
            toks.append(("lit", _unquote(m3.group(1)), None))
        elif m3.group(2):
            toks.append(("star", None, None))
        else:
            toks.append(("field", m3.group(3), m3.group(4)))
    parts: list[str] = []
    fields: list[tuple[str, str | None, int]] = []
    for i, (tk, a, ty) in enumerate(toks):
        last = i == len(toks) - 1
        if tk == "lit":
            parts.append(re.escape(a))
        elif tk == "star":
            parts.append(".*" if last else ".*?")
        else:
            fields.append((a, ty, len(fields) + 1))
            parts.append("(.*)" if last else "(.*?)")
    if not fields:
        raise KqlError("parse pattern extracts no fields")
    pattern = "^" + "".join(parts)
    cols = {
        name: _typed_cast(F.regexp_extract(src, pattern, g), ty)
        for name, ty, g in fields
    }
    return src, pattern, cols


_JOIN_KINDS = {
    # KQL join flavors → Spark join types (`join` docs; the reference
    # grammar has no tabular join — this is beyond-reference surface)
    "inner": "inner",
    "innerunique": "inner",  # + left-side key dedup, below
    "leftouter": "left",
    "rightouter": "right",
    "fullouter": "full",
    "leftanti": "left_anti",
    "anti": "left_anti",
    "leftsemi": "left_semi",
    # Spark has no right_semi/right_anti physical types: implemented by
    # swapping sides onto left_semi/left_anti (output = right's columns,
    # the KQL semantics).
    "rightanti": "left_anti",
    "rightsemi": "left_semi",
}


_SOURCE_OPS = ("range ", "datatable", "print ", "print\t",
               "externaldata")


def _literal_source(head: str, bindings: dict) -> DataFrame:
    """Nullary KQL sources that synthesize a relation from literals:
    ``range x from a to b step c`` (inclusive, numeric or
    datetime+timespan — `F.sequence` is inclusive, matching KQL),
    ``datatable(col: type, …) [v, …]`` (row-major literal list) and
    ``print name = expr, …`` (one row). All build a one-row plan on the
    active session and stay pure Catalyst literals."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        raise KqlError("range/datatable/print need an active SparkSession")
    one = spark.range(1).select()

    def pe(s: str) -> Column:
        return parse_expr(s, bindings)

    m = re.match(
        r"^range\s+([A-Za-z_]\w*)\s+from\s+(.+?)\s+to\s+(.+?)"
        r"\s+step\s+(.+)$", head, re.S,
    )
    if m:
        name, lo, hi, step = m.groups()
        return one.select(
            F.explode(F.sequence(pe(lo), pe(hi), pe(step))).alias(name)
        )
    m = re.match(r"^datatable\s*\((.*?)\)\s*\[(.*)\]$", head, re.S)
    if m:
        _DT_TYPES = {
            "string": "string", "long": "bigint", "int": "int",
            "real": "double", "datetime": "timestamp", "bool": "boolean",
            "boolean": "boolean",
        }
        cols = []
        for part in _split_top_level(m.group(1), ","):
            cm = re.match(r"^([A-Za-z_]\w*)\s*:\s*([a-z]+)$", part.strip())
            if not cm or cm.group(2) not in _DT_TYPES:
                raise KqlError(f"bad datatable column {part.strip()!r}")
            cols.append((cm.group(1), _DT_TYPES[cm.group(2)]))
        vals = [v for v in _split_top_level(m.group(2), ",") if v.strip()]
        if not cols or not vals or len(vals) % len(cols):
            raise KqlError(
                f"datatable needs a multiple of {len(cols)} values, "
                f"got {len(vals)}"
            )
        rows = [
            F.struct(*[
                pe(vals[r * len(cols) + i]).cast(t).alias(n)
                for i, (n, t) in enumerate(cols)
            ])
            for r in range(len(vals) // len(cols))
        ]
        return one.select(
            F.explode(F.array(*rows)).alias("_r")
        ).select("_r.*")
    m = re.match(r"^print\s+(.+)$", head, re.S)
    if m:
        sel = []
        for i, (name, expr) in enumerate(_parse_assignments(m.group(1))):
            sel.append(pe(expr).alias(name or f"print_{i}"))
        return one.select(*sel)
    m = re.match(
        r"^externaldata\s*\((.*?)\)\s*\[(.*?)\]"
        r"\s*(?:with\s*\((.*?)\))?\s*$", head, re.S)
    if m:
        # `externaldata (c: type, …) ['path', …]
        #  [with (format='csv|tsv|json|parquet', header=true|false)]`
        # — Kusto's external-table source mapped straight onto
        # spark.read with an EXPLICIT schema (never inference — schema
        # drift in external files must fail loudly, and an explicit
        # schema is what lets the scan prune columns/push filters at
        # 100 TB). URLs are not fetched (no network by policy); paths
        # are storage paths the cluster can read.
        _DT_TYPES = {
            "string": "string", "long": "bigint", "int": "int",
            "real": "double", "datetime": "timestamp_ntz",
            "bool": "boolean", "boolean": "boolean",
        }
        fields = []
        for part in _split_top_level(m.group(1), ","):
            cm = re.match(
                r"^([A-Za-z_]\w*)\s*:\s*([a-z]+)$", part.strip())
            if not cm or cm.group(2) not in _DT_TYPES:
                raise KqlError(
                    f"bad externaldata column {part.strip()!r}")
            fields.append(
                f"{cm.group(1)} {_DT_TYPES[cm.group(2)]}")
        paths = [
            _unquote(p.strip())
            for p in _split_top_level(m.group(2), ",") if p.strip()
        ]
        if not fields or not paths:
            raise KqlError(
                "externaldata needs (col: type, …) ['path', …]")
        opts = {}
        for part in _split_top_level(m.group(3) or "", ","):
            om = re.match(r"^(\w+)\s*=\s*(.+)$", part.strip())
            if om:
                opts[om.group(1).lower()] = _unquote(
                    om.group(2).strip())
        fmt = opts.get("format", "csv").lower()
        schema = ", ".join(fields)
        if fmt == "parquet":
            return spark.read.schema(schema).parquet(*paths)
        if fmt == "json":
            return spark.read.schema(schema).json(*paths)
        if fmt in ("csv", "tsv", "txt"):
            return spark.read.schema(schema).csv(
                list(paths),
                sep="\t" if fmt == "tsv" else ",",
                header=opts.get("header", "false") == "true")
        raise KqlError(f"externaldata: unsupported format {fmt!r}")
    raise KqlError(f"bad literal source {head!r}")


def _parse_source(src: str, tables: dict[str, DataFrame] | None,
                  bindings: dict) -> DataFrame:
    """Resolve a join/union source: a bare table name, a literal source
    (``range``/``datatable``/``print``), or a parenthesized subquery
    (``(T | where …)``), recursing through the same stage machinery.
    Tables come from the ``tables=`` registry passed to :func:`kql`."""
    src = src.strip()
    if src.startswith("(") and src.endswith(")"):
        src = src[1:-1].strip()
    stages = _split_top_level(src, "|")
    if not stages:
        raise KqlError("empty join/union source")
    name = stages[0].strip()
    if name.startswith(_SOURCE_OPS) or name.startswith("datatable"):
        return _apply_stages(
            _literal_source(name, bindings), stages[1:], bindings, tables
        )
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise KqlError(
            f"join/union source must start with a table name, got {name!r}"
        )
    if not tables or name not in tables:
        raise KqlError(
            f"unknown table {name!r} — pass it via kql(..., tables={{...}})"
        )
    return _apply_stages(tables[name], stages[1:], bindings, tables)


# ---------------------------------------------------------------------------
# graph operators: make-graph / graph-match / graph-to-table
# ---------------------------------------------------------------------------
# Kusto's graph semantics (graph-operators.md) re-expressed as joins:
# a graph is (edges relation, src col, dst col, optional nodes relation
# keyed by a node-id col); a fixed-length `graph-match` pattern compiles
# to a left-deep chain of EQUI-joins over prefixed copies of the edge
# relation (one per edge variable), node properties join in by id, and
# the `cycles=` constraint becomes pairwise filters. Catalyst then
# plans each hop like any other join (broadcast under threshold, AQE
# skew-split otherwise) — no bespoke graph runtime, which is exactly
# how a 100 TB edge relation wants to be traversed for bounded-depth
# patterns. (Unbounded/variable-length paths belong to the iterative
# connected-components machinery in `dataops/dedup.py`, not here.)

_GRAPH_NODE_RE = re.compile(r"\s*\(\s*([A-Za-z_]\w*)?\s*\)")
# (pattern, forward?) — named `-[e]->` / `<-[e]-` (optionally
# variable-length `-[e*lo..hi]->`) and bare `-->` / `<--`
_GRAPH_EDGE_RES = (
    (re.compile(r"\s*-\[\s*([A-Za-z_]\w*)?\s*"
                r"(?:\*\s*(\d+)\s*\.\.\s*(\d+))?\s*\]->"), True),
    (re.compile(r"\s*<-\[\s*([A-Za-z_]\w*)?\s*"
                r"(?:\*\s*(\d+)\s*\.\.\s*(\d+))?\s*\]-"), False),
    (re.compile(r"\s*-->"), True),
    (re.compile(r"\s*<--"), False),
)

# the variable-length expansion multiplies JOIN DEPTH, not data: cap it
# so a typo can't compile a 50-way self-join
_GRAPH_MAX_HOPS = 8


def _parse_graph_pattern(
    src: str, pos: int,
) -> tuple[list[str | None],
           list[tuple[str | None, bool, int, int]], int]:
    """Parse ``(a)-[e]->(b)<-[f*1..3]-(c)…`` at ``src[pos:]``; returns
    (node vars, [(edge var, forward?, lo, hi)], end position). Fixed
    edges have lo == hi == 1; anonymous nodes/edges are None."""
    m = _GRAPH_NODE_RE.match(src, pos)
    if not m:
        raise KqlError(f"graph-match pattern must start with a node "
                       f"`(var)`, got {src[pos:pos + 20]!r}")
    nodes: list[str | None] = [m.group(1)]
    edges: list[tuple[str | None, bool, int, int]] = []
    pos = m.end()
    while True:
        hit = None
        for rx, fwd in _GRAPH_EDGE_RES:
            me = rx.match(src, pos)
            if me:
                gs = me.groups()
                var = gs[0] if gs else None
                lo = int(gs[1]) if len(gs) > 1 and gs[1] else 1
                hi = int(gs[2]) if len(gs) > 2 and gs[2] else lo
                hit = (var, fwd, lo, hi, me.end())
                break
        if hit is None:
            break
        var, fwd, lo, hi, end = hit
        if hi < lo or hi > _GRAPH_MAX_HOPS:
            raise KqlError(
                f"graph-match: edge repetition must satisfy "
                f"0 <= lo <= hi <= {_GRAPH_MAX_HOPS}, got {lo}..{hi}")
        mn = _GRAPH_NODE_RE.match(src, end)
        if not mn:
            raise KqlError("graph-match: edge must be followed by a "
                           "node `(var)`")
        edges.append((var, fwd, lo, hi))
        nodes.append(mn.group(1))
        pos = mn.end()
    if not edges:
        raise KqlError("graph-match pattern needs at least one edge")
    return nodes, edges, pos


def _rewrite_graph_refs(src: str, gvars: set[str]) -> str:
    """Rewrite ``var.prop`` → ``var__prop`` for pattern variables,
    outside string literals (variant paths on other names untouched)."""
    def rw(m: re.Match) -> str:
        return (f"{m.group(1)}__{m.group(2)}"
                if m.group(1) in gvars else m.group(0))

    return _sub_outside_strings(
        src, r"\b([A-Za-z_]\w*)\.([A-Za-z_]\w*)\b", rw)


def _sub_outside_strings(src: str, pat: str, repl) -> str:
    parts = _STR_SEG_RE.split(src)
    return "".join(
        p if i % 2 else re.sub(pat, repl, p)
        for i, p in enumerate(parts)
    )


def _expand_varlen_refs(src: str, ev: str,
                        hop_names: list[str]) -> str:
    """Expand references to a variable-length edge var ``ev`` for one
    concrete hop expansion: ``all(ev, P)`` → per-hop conjunction,
    ``any(ev, P)`` → disjunction, ``map(ev, X)`` → ``pack_array(X per
    hop)``, bare ``ev.prop`` → ``pack_array(hop.prop …)`` (Kusto:
    variable-length edge properties surface as dynamic arrays)."""
    def per_hop(body: str, hop: str) -> str:
        return _sub_outside_strings(
            body, rf"\b{re.escape(ev)}\.([A-Za-z_]\w*)\b",
            lambda m: f"{hop}.{m.group(1)}")

    def fold(joiner: str, empty: str):
        return lambda body: (empty if not hop_names else "(" + joiner.join(
            "(" + per_hop(body, h) + ")" for h in hop_names) + ")")

    rewrites = (
        ("all", fold(" and ", "true")),
        ("any", fold(" or ", "false")),
        ("map", lambda body: "pack_array(" + ", ".join(
            per_hop(body, h) for h in hop_names) + ")"
            if hop_names else "dynamic([])"),
    )
    for fn, rewrite in rewrites:
        pos = 0
        # any depth: nested calls like ``not(all(e, …))`` count too
        while (i := _find_top(src, rf"(?<!\w){fn}\s*\(", pos,
                              any_depth=True)) is not None:
            op_idx = src.index("(", i)
            cl_idx = _matching_paren(src, op_idx)
            args = _split_top_level(src[op_idx + 1:cl_idx], ",")
            if len(args) == 2 and args[0].strip() == ev:
                rep = rewrite(args[1])
                src = src[:i] + rep + src[cl_idx + 1:]
                pos = i + len(rep)
            else:
                pos = op_idx + 1
    # bare ev.prop — array of the per-hop values
    if hop_names:
        src = _sub_outside_strings(
            src, rf"\b{re.escape(ev)}\.([A-Za-z_]\w*)\b",
            lambda m: "pack_array(" + ", ".join(
                f"{h}.{m.group(1)}" for h in hop_names) + ")")
    else:
        src = _sub_outside_strings(
            src, rf"\b{re.escape(ev)}\.([A-Za-z_]\w*)\b",
            lambda m: "dynamic([])")
    return src


def _graph_match_one(
    g: dict, nvars: list[str], npat: list[str | None],
    epat: list[tuple[str | None, bool, int, int]],
    hop_n: dict[int, int], cycles: str,
    where_src: str | None, proj_src: str, bindings: dict,
    path_meta: bool = False,
) -> DataFrame:
    """One fixed-length expansion of a graph-match pattern → relation.
    ``hop_n`` maps variable-length edge positions to this expansion's
    concrete hop count."""
    ebase, ecols = g["edges"], g["edges"].columns
    # expand into concrete hops (edge copy name, fwd, left, right)
    hops: list[tuple[str, bool]] = []
    seq: list[tuple[str, str, str] | tuple[str, str]] = []
    varlen_names: dict[str, list[str]] = {}
    for i, (ev0, fwd, lo, hi) in enumerate(epat):
        ev = ev0 or f"_e{i}"
        ln, rn = nvars[i], nvars[i + 1]
        if (lo, hi) == (1, 1) and i not in hop_n:
            seq.append((ev, ln, rn))
            hops.append((ev, fwd))
        else:
            h = hop_n[i]
            names = [f"{ev}__h{j}" for j in range(h)]
            varlen_names[ev] = names
            if h == 0:
                seq.append((ln, rn))       # zero-hop: nodes coincide
            else:
                cur = ln
                for j, nm in enumerate(names):
                    nxt = rn if j == h - 1 else f"_vn{i}_{j}"
                    seq.append((nm, cur, nxt))
                    hops.append((nm, fwd))
                    cur = nxt
    fwd_of = dict(hops)
    bound: dict[str, str] = {}
    rel: DataFrame | None = None
    pending_zero: list[tuple[str, str]] = []
    for el in seq:
        if len(el) == 2:                   # zero-hop alias
            ln, rn = el
            if ln in bound:
                bound.setdefault(rn, bound[ln])
                if bound[rn] != bound[ln]:
                    rel = rel.filter(
                        F.col(bound[rn]) == F.col(bound[ln]))
            elif rn in bound:
                bound[ln] = bound[rn]
            else:
                pending_zero.append((ln, rn))
            continue
        ev, ln, rn = el
        edf = ebase.select(
            *[F.col(c).alias(f"{ev}__{c}") for c in ecols])
        s, d = f"{ev}__{g['src']}", f"{ev}__{g['dst']}"
        lcol, rcol = (s, d) if fwd_of[ev] else (d, s)
        pairs = [(ln, lcol), (rn, rcol)]
        conds: list[Column] = []
        if rel is None:
            rel = edf
            for var, cn in pairs:
                if var in bound:
                    conds.append(F.col(bound[var]) == F.col(cn))
                else:
                    bound[var] = cn
            for c in conds:
                rel = rel.filter(c)
        else:
            defer = []
            for var, cn in pairs:
                if var in bound:
                    conds.append(F.col(bound[var]) == F.col(cn))
                else:
                    defer.append((var, cn))
            if not conds:
                raise KqlError("graph-match pattern must be connected")
            cond = conds[0]
            for c in conds[1:]:
                cond = cond & c
            rel = rel.join(edf, cond, "inner")
            for var, cn in defer:
                bound[var] = cn
        # resolve zero-hop aliases whose anchor just got bound
        for ln0, rn0 in list(pending_zero):
            if ln0 in bound or rn0 in bound:
                a = ln0 if ln0 in bound else rn0
                b = rn0 if a == ln0 else ln0
                bound.setdefault(b, bound[a])
                pending_zero.remove((ln0, rn0))
    if rel is None:
        # every edge vanished (all-zero expansion): the pattern is a
        # single node matched against the (implicit) node set
        nid = g["nid"]
        if g["nodes"] is not None:
            rel = g["nodes"].select(
                F.col(nid).alias("_gm__id"))
        else:
            rel = (
                ebase.select(F.col(g["src"]).alias("_gm__id"))
                .unionByName(
                    ebase.select(F.col(g["dst"]).alias("_gm__id")))
                .distinct()
            )
        for v in nvars:
            bound[v] = "_gm__id"
        pending_zero.clear()
    if pending_zero:
        raise KqlError("graph-match pattern must be connected")
    evars_all = [nm for nm, _ in hops]
    if cycles == "none":
        # pairwise-distinct over distinct BOUND columns of every node
        # on the path (pattern vars + variable-length inner nodes);
        # zero-hop aliases share a column and are correctly exempt
        path_vars = nvars + [v for v in bound if v.startswith("_vn")]
        node_cols = list(dict.fromkeys(bound[v] for v in path_vars))
        for a, b in itertools.combinations(node_cols, 2):
            rel = rel.filter(F.col(a) != F.col(b))
    elif cycles == "unique_edges":
        for e1, e2 in itertools.combinations(evars_all, 2):
            neq = None
            for c in ecols:
                p = ~F.col(f"{e1}__{c}").eqNullSafe(
                    F.col(f"{e2}__{c}"))
                neq = p if neq is None else (neq | p)
            rel = rel.filter(neq)
    nid = g["nid"]
    for v in dict.fromkeys(n for n in npat if n):
        if g["nodes"] is not None:
            ndf = g["nodes"].select(
                *[F.col(c).alias(f"{v}__{c}")
                  for c in g["nodes"].columns])
            rel = rel.join(
                ndf, F.col(bound[v]) == F.col(f"{v}__{nid}"), "left")
        rel = rel.withColumn(f"{v}__{nid}", F.col(bound[v]))
    gvars = set(evars_all) | set(nvars)

    def gpe(s: str) -> Column:
        for ev, names in varlen_names.items():
            s = _expand_varlen_refs(s, ev, names)
        s2 = _rewrite_graph_refs(s, gvars)
        vcols = {
            f.name for f in rel.schema.fields
            if f.dataType.typeName() == "variant"
        }
        return parse_expr(s2, bindings, variant_cols=vcols)

    if where_src:
        rel = rel.filter(gpe(where_src))
    sel = []
    for name, expr in _parse_assignments(proj_src):
        if name is None:
            m3 = re.fullmatch(
                r"\s*([A-Za-z_]\w*)\.([A-Za-z_]\w*)\s*", expr)
            name = f"{m3.group(1)}_{m3.group(2)}" if m3 else None
        c = gpe(expr)
        sel.append(c.alias(name) if name else c)
    if path_meta:
        # graph-shortest-paths bookkeeping: expansion hop count +
        # endpoint ids ride along so the union can rank per pair
        sel += [
            F.lit(len(evars_all)).alias("__hops"),
            F.col(bound[nvars[0]]).alias("__src"),
            F.col(bound[nvars[-1]]).alias("__dst"),
        ]
    return rel.select(*sel)


def _graph_match(
    g: dict, npat: list[str | None],
    epat: list[tuple[str | None, bool, int, int]], cycles: str,
    where_src: str | None, proj_src: str, bindings: dict,
) -> DataFrame:
    """Compile a graph-match pattern. Variable-length edges expand
    into a UNION over concrete hop counts — each expansion is the
    fixed-length equi-join chain, so the whole match stays declarative
    joins Catalyst can plan (and the hop cap bounds plan size)."""
    nvars: list[str] = []
    for j, v in enumerate(npat):
        nv = v or f"_n{j}"
        nvars.append(nv)
    seen_e: set[str] = set()
    varlen_pos: list[int] = []
    for i, (ev0, fwd, lo, hi) in enumerate(epat):
        ev = ev0 or f"_e{i}"
        if ev in seen_e or ev in nvars:
            raise KqlError(
                f"graph-match: duplicate edge variable {ev!r}")
        seen_e.add(ev)
        if (lo, hi) != (1, 1):
            varlen_pos.append(i)
    # a pattern with >1 concrete hop (or several expansions) scans the
    # edge relation once per hop — persist it so an expensive upstream
    # (windows, aggregations) materializes once
    total_hops = sum(hi for _, _, _, hi in epat)
    if total_hops > 1:
        from otel_arrow_spark.dataops.dedup import persist_registered

        g = dict(g, edges=persist_registered(g["edges"]))
    combos = itertools.product(
        *[range(epat[i][2], epat[i][3] + 1) for i in varlen_pos])
    outs = [
        _graph_match_one(
            g, nvars, npat, epat, dict(zip(varlen_pos, combo)),
            cycles, where_src, proj_src, bindings)
        for combo in combos
    ]
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    return df


def _graph_shortest(
    g: dict, npat: list[str | None],
    epat: list[tuple[str | None, bool, int, int]], cycles: str,
    where_src: str | None, proj_src: str, bindings: dict,
    mode: str,
) -> DataFrame:
    """``graph-shortest-paths``: bounded-length shortest paths between
    the pattern's endpoint nodes. Every hop-count expansion of the
    (required) variable-length edge evaluates like graph-match with
    hop/endpoint metadata; per (source id, target id) pair the minimal
    hop count wins. ``output=any`` keeps ONE such path — ties broken
    by ordering over the projected columns, so the choice is
    deterministic (Kusto leaves it arbitrary); ``output=all`` keeps
    every path of the minimal length."""
    nvars = [v or f"_n{j}" for j, v in enumerate(npat)]
    if not any((lo, hi) != (1, 1) for _, _, lo, hi in epat):
        raise KqlError(
            "graph-shortest-paths needs a variable-length edge "
            "(-[e*lo..hi]->) — fixed patterns are plain graph-match")
    seen_e: set[str] = set()
    varlen_pos: list[int] = []
    for i, (ev0, _, lo, hi) in enumerate(epat):
        ev = ev0 or f"_e{i}"
        if ev in seen_e or ev in nvars:
            raise KqlError(
                f"graph-shortest-paths: duplicate edge variable {ev!r}")
        seen_e.add(ev)
        if (lo, hi) != (1, 1):
            varlen_pos.append(i)
    total_hops = sum(hi for _, _, _, hi in epat)
    if total_hops > 1:
        from otel_arrow_spark.dataops.dedup import persist_registered

        g = dict(g, edges=persist_registered(g["edges"]))
    combos = itertools.product(
        *[range(epat[i][2], epat[i][3] + 1) for i in varlen_pos])
    outs = [
        _graph_match_one(
            g, nvars, npat, epat, dict(zip(varlen_pos, combo)),
            cycles, where_src, proj_src, bindings, path_meta=True)
        for combo in combos
    ]
    df = outs[0]
    for o in outs[1:]:
        df = df.unionByName(o)
    proj_cols = [c for c in df.columns
                 if c not in ("__hops", "__src", "__dst")]
    w = Window.partitionBy("__src", "__dst")
    if mode == "any":
        rnk = F.row_number().over(w.orderBy(
            F.col("__hops").asc(),
            *[F.col(c).asc_nulls_first() for c in proj_cols]))
        df = df.withColumn("__rnk", rnk).filter(F.col("__rnk") == 1)
    else:                                     # output=all
        mh = F.min("__hops").over(w)
        df = df.withColumn("__mh", mh).filter(
            F.col("__hops") == F.col("__mh"))
    return df.select(*proj_cols)


def kql(df: DataFrame, query: str,
        tables: dict[str, DataFrame] | None = None) -> DataFrame:
    """Run a KQL pipeline string against a DataFrame.

    The leading table name is implicit (the input DataFrame); a leading
    bare identifier stage resolves from ``tables`` when registered there,
    and is otherwise accepted and ignored for compatibility with full
    queries (``T | where …``). ``let name = expr;`` statements bind
    constants substituted into later expressions — Catalyst's constant
    folding then plays the reference's fold-of-let-statics
    (`expressions/src/pipeline_expression.rs:75-88`). Stages after
    ``summarize`` run over the aggregate (post-summarize pipe
    expressions, `tabular_expressions.rs:350-490`). Multi-table stages
    (``join kind=… (source) on …``, ``union …``) resolve their sources
    from ``tables``.
    """
    df, stages, bindings, tables = _prepare(df, query, tables)
    return _apply_stages(df, stages, bindings, tables)


def kql_fork(df: DataFrame, query: str,
             tables: dict[str, DataFrame] | None = None,
             ) -> dict[str, DataFrame]:
    """Run a KQL pipeline whose terminal stage is ``fork``, returning
    one DataFrame per leg.

    ``… | fork [name=](subpipeline) [name=](subpipeline) …`` — every
    leg consumes the SAME upstream relation and applies its own stage
    list; unnamed legs are auto-named ``leg1``, ``leg2``, …  This is
    the KQL surface of the reference's fan-out: one upstream, several
    downstream consumers (`router.py` / SURVEY §2.3 signal-type
    routing); like `fan_out_writes`, the upstream is NOT re-read per
    leg when the caller persists it — the legs are lazy plans sharing
    the same parent, so a caller materializing all legs should
    localCheckpoint/persist the upstream first (same contract as
    `router.fan_out_writes`).
    """
    df, stages, bindings, tables = _prepare(df, query, tables)
    fork_at = next(
        (i for i, s in enumerate(stages)
         if re.match(r"^fork\b", s.strip())), None,
    )
    if fork_at is None:
        raise KqlError("kql_fork needs a `fork` stage")
    if fork_at != len(stages) - 1:
        raise KqlError("fork must be the last stage")
    df = _apply_stages(df, stages[:fork_at], bindings, tables)
    rest = stages[fork_at].strip()[4:].strip()
    legs: dict[str, DataFrame] = {}
    pos, n = 0, 0
    while pos < len(rest):
        m = re.match(r"\s*(?:([A-Za-z_][A-Za-z0-9_]*)\s*=\s*)?\(",
                     rest[pos:])
        if not m:
            raise KqlError(f"bad fork leg at {rest[pos:pos + 20]!r}")
        start = pos + m.end()  # just past the opening paren
        close = _matching_paren(rest, start - 1)
        n += 1
        name = m.group(1) or f"leg{n}"
        legs[name] = _apply_stages(
            df, _split_top_level(rest[start:close], "|"), dict(bindings),
            tables,
        )
        pos = close + 1
    if not legs:
        raise KqlError("fork needs at least one leg")
    return legs


def _prepare(df: DataFrame, query: str,
             tables: dict[str, DataFrame] | None,
             ) -> tuple[DataFrame, list[str], dict, dict]:
    """Shared front half of `kql`/`kql_fork`: let-statement bindings,
    literal/table source resolution, pipe splitting."""
    bindings: dict[str, KE] = {}
    tables = dict(tables) if tables else {}
    statements = _split_top_level(query, ";")
    for stmt in statements[:-1]:
        m = _LET_RE.match(stmt)
        if not m:
            raise KqlError(f"expected `let name = expr;`, got {stmt!r}")
        rhs = m.group(2).strip()
        mmz = re.match(r"^materialize\s*\((.+)\)\s*$", rhs, re.S)
        if mmz:
            # `let M = materialize(T | …);` — evaluate the subquery
            # once and reuse the result across every reference (Kusto's
            # contract). Spark form: persist() — the first action
            # populates the block cache, later references read it
            # instead of recomputing. Lifetime is the session's; callers
            # running many queries should unpersist via
            # spark.catalog.clearCache() between them (the same
            # session-scope note as dedup's release_caches).
            tables[m.group(1)] = _parse_source(
                mmz.group(1), tables, bindings
            ).persist()
            continue
        mts = re.match(r"^toscalar\s*\((.+)\)\s*$", rhs, re.S)
        if mts:
            # `let x = toscalar(T | summarize …);` — evaluate the
            # subquery to its first row's first column NOW and bind the
            # VALUE as a literal (Kusto evaluates toscalar before the
            # main query; the result is a query constant that Catalyst
            # then folds). This is a deliberate 1-value driver action —
            # the subquery is an aggregate/limit by contract, the same
            # shape as lineage's 1-row checksum collect.
            sub = _parse_source(mts.group(1), tables, bindings)
            row = sub.limit(1).collect()
            bindings[m.group(1)] = _mklit(
                row[0][0] if row else None
            )
            continue
        if rhs.startswith("(") and rhs.endswith("}") and "{" in rhs:
            # user function: `let f = (x: long[, …]) { body };` —
            # params split at the FIRST top-level `{` (bodies containing
            # `{` are not supported; KQL dynamic literals in function
            # bodies are rare and can use parse_json instead)
            psrc, _, body = rhs.partition("{")
            psrc = psrc.strip()
            if not (psrc.startswith("(") and psrc.endswith(")")):
                raise KqlError(f"bad function parameters in {rhs!r}")
            params: list[tuple[str, str]] = []
            for p in _split_top_level(psrc[1:-1], ","):
                if not p.strip():
                    continue
                pname, _, ptyp = p.partition(":")
                kind = "table" if ptyp.strip().startswith("(") else "scalar"
                params.append((pname.strip(), kind))
            bindings[m.group(1)] = KqlFunc(
                m.group(1), params, body.rstrip().rstrip("}").strip()
            )
            continue
        head = _split_top_level(rhs, "|")[0].strip()
        if re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", head) and head in tables:
            # table-valued let: `let T2 = T | where …;` — binds a new
            # relation into the registry (a registered table name on the
            # RHS head wins over a scalar reading of the same token)
            tables[m.group(1)] = _parse_source(rhs, tables, bindings)
        else:
            bindings[m.group(1)] = parse_expr_ke(m.group(2), bindings)
    query = statements[-1]

    stages = _split_top_level(query, "|")
    if stages and (stages[0].strip().startswith(_SOURCE_OPS)
                   or stages[0].strip().startswith("datatable")):
        df = _literal_source(stages[0].strip(), bindings)
        stages = stages[1:]
    elif stages and re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", stages[0]):
        name = stages[0].strip()
        if tables and name in tables:
            df = tables[name]
        stages = stages[1:]
    return df, stages, bindings, tables


# ---------------------------------------------------------------------------
# evaluate plugin registry
# ---------------------------------------------------------------------------

# plugin name → (min_args, max_args or None when variadic, handler), see
# the module docstring. A handler is ``(df, args, **ctx) -> DataFrame``:
# ``args`` is a ``_PluginArgs`` and ``ctx`` holds the stage's ``pe``
# (expression compiler), ``bindings``, ``tables`` and ``wspec`` (the
# serialized order before the stage, for ``narrow``/``rows_near``).
_PLUGINS: dict[str, tuple] = {}
_plugin = _registry(_PLUGINS, "evaluate plugin")


class _PluginArgs(list):
    """The argument texts of one ``evaluate`` call (top-level split,
    stripped) and the readers the plugins share. Every reader error
    names the plugin."""

    def __init__(self, plugin: str, texts: list[str], columns: list[str]):
        super().__init__(texts)
        self.plugin, self.columns = plugin, columns

    def _read(self, i: int, what: str, pattern: str, conv):
        """``conv(match)`` of argument ``i`` against ``pattern``; a
        mismatch, a ``KqlError`` or ``None`` from ``conv`` is an error."""
        m = re.fullmatch(pattern, self[i], re.S)
        try:
            v = None if m is None else conv(m)
        except KqlError:
            v = None
        if v is None:
            raise KqlError(
                f"{self.plugin}: argument {i % len(self) + 1} must be "
                f"{what}, got {self[i]!r}")
        return v

    def col(self, i: int) -> str:
        """Argument ``i``: a column of the input frame."""
        if self[i] not in self.columns:
            raise KqlError(f"{self.plugin}: no column {self[i]!r}")
        return self[i]

    def cols(self, i: int) -> list[str]:
        """Arguments ``i``… : columns of the input frame."""
        return [self.col(j) for j in range(i, len(self))]

    def datetime(self, i: int) -> float:
        """Argument ``i``: a ``datetime(…)`` literal, as epoch seconds."""
        return self._read(i, "a datetime(…) literal",
                          r"datetime\(([^)]*)\)",
                          lambda m: _plugin_epoch(m.group(1)))

    def timespan(self, i: int) -> float:
        """Argument ``i``: a timespan literal, in seconds."""
        return self._read(i, "a timespan <n><d|h|m|s|ms>", r".*",
                          lambda m: _timespan_secs(m.group(0)))

    def integer(self, i: int, lo: int = 1) -> int:
        """Argument ``i``: an integer literal ≥ ``lo``."""
        return self._read(i, f"an integer ≥ {lo}", r"\d+",
                          lambda m: int(m.group(0))
                          if int(m.group(0)) >= lo else None)

    def number(self, i: int) -> float:
        """Argument ``i``: a non-negative number literal."""
        return self._read(i, "a number", r"\d+\.?\d*|\.\d+",
                          lambda m: float(m.group(0)))

    def flag(self, i: int, key: str) -> bool:
        """Argument ``i``: ``true``/``false``, optionally ``key = …``."""
        return self._read(i, f"[{key} =] true|false",
                          rf"(?:{key}\s*=\s*)?(true|false)",
                          lambda m: m.group(1) == "true")

    def dynamic(self, i: int, conv=_unquote) -> list:
        """Argument ``i``: a ``dynamic([…])`` list, each element read
        by ``conv``."""
        return self._read(i, "a dynamic([…]) list",
                          r"dynamic\(\s*\[(.*)\]\s*\)",
                          lambda m: [conv(p) for p in
                                     _split_top_level(m.group(1), ",")])


def _evaluate(df: DataFrame, call: str, **ctx) -> DataFrame:
    """``evaluate plugin(args…)``: the one call parse, lookup and
    argument-count check, then the plugin's handler."""
    m = re.match(r"([A-Za-z_]\w*)\s*\(", call)
    if m is None:
        raise KqlError(f"evaluate needs plugin(args…), got {call!r}")
    name = m.group(1)
    if name not in _PLUGINS:
        raise KqlError(f"unknown evaluate plugin {name!r}")
    close = _matching_paren(call, m.end() - 1)
    if call[close + 1:].strip():
        raise KqlError(
            f"{name}(): unexpected {call[close + 1:].strip()!r} after "
            "the call")
    lo, hi, handler = _PLUGINS[name]
    args = _PluginArgs(
        name, _split_top_level(call[m.end():close], ","), df.columns)
    _check_arity(name, len(args), lo, hi)
    return handler(df, args, **ctx)


def _ip_lookup_args(args: _PluginArgs, tables: dict | None) -> tuple:
    """``(LookupTable, SourceIPColumn, IPNetworkColumn[,
    return_unmatched])`` of ``ipv4_lookup``/``ipv6_lookup`` → (lookup
    frame, source column, network column, join type)."""
    lutname, netc = args[0], args[2]
    if not tables or lutname not in tables:
        raise KqlError(
            f"{args.plugin}: unknown table {lutname!r} — "
            "pass it via kql(..., tables={...})")
    ipc = args.col(1)
    lut = tables[lutname]
    if netc not in lut.columns:
        raise KqlError(
            f"{args.plugin}: lookup table has no column {netc!r}")
    unmatched = len(args) == 4 and args.flag(3, "return_unmatched")
    return lut, ipc, netc, "left" if unmatched else "inner"


@_plugin("narrow", 0, 0)
def _ev_narrow(df, args, wspec, **_):
    """`evaluate narrow()` — transpose each row to (Row, Column,
    Value-as-string) triples (the Kusto plugin). Row is the 0-based
    index in the serialized order, so like the other serialized-window
    ops it requires `sort by …` first; the transpose itself is one
    explode over a per-row literal struct array (narrow, no extra
    shuffle beyond the serialize window). Use on small/aggregated
    relations — the Row index is a global window by construction,
    exactly KQL's serialized-table semantics."""
    if wspec is None:
        raise KqlError(
            "evaluate narrow() requires a serialized row "
            "set: `sort by …` first"
        )
    entries = F.array(*[
        F.struct(
            F.lit(c).alias("Column"),
            F.col(c).cast("string").alias("Value"),
        )
        for c in df.columns
    ])
    # Row must bind BEFORE the explode (same-select windows
    # evaluate after Generate — measured: Row would then
    # number the exploded triples, not the source rows)
    return df.select(
        (F.row_number().over(wspec) - 1).alias("Row"),
        entries.alias("_es"),
    ).select(
        "Row", F.explode("_es").alias("_e")
    ).select("Row", "_e.Column", "_e.Value")


@_plugin("rows_near", 2, 3)
def _ev_rows_near(df, args, pe, wspec, **_):
    """`evaluate rows_near(Condition, NumRows[, RowsAfter])` — keep every
    row within NumRows before / RowsAfter (default NumRows) after any
    row satisfying Condition, in the serialized order (Kusto's
    context-rows plugin; reference grammar has no scan/rows_near — this
    is the beyond-reference log-forensics shape). One Window over the
    serialize order: row i survives iff some condition row j exists with
    j−before ≤ i ≤ j+after ⇔ j ∈ [i−after, i+before], i.e. max(cond)
    over ROWS BETWEEN after PRECEDING AND before FOLLOWING — a single
    bounded frame, no self-join, no explode. Like the other serialized
    ops it requires `sort by …` (or `serialize by …`) first; output
    order must be re-stated downstream (evaluate clears it)."""
    if wspec is None:
        raise KqlError(
            "evaluate rows_near() requires a serialized "
            "row set: `sort by …` first")
    before = args.integer(1, lo=0)
    after = args.integer(2, lo=0) if len(args) == 3 else before
    flag = F.when(pe(args[0]), 1).otherwise(0)
    near = F.max(flag).over(
        wspec.rowsBetween(-after, before))
    return (
        df.withColumn("_near", near)
        .filter(F.col("_near") == 1)
        .drop("_near")
    )


@_plugin("basket", 0, 1)
def _ev_basket(df, args, **_):
    """`evaluate basket(SupportFrac)` — frequent itemset mining over the
    (categorical) input columns at ARBITRARY itemset size, two-pass
    FP-growth-shaped:

      pass 1 (Apriori base): ONE melt + aggregate finds
        the frequent single (column, value) items; the
        driver collect is bounded (≤ ncols/frac items can
        clear the support floor) and broadcasts back as
        literal isin lists;
      pass 2: each row keeps only its frequent items
        (anti-monotonicity: every member of a frequent
        itemset is itself frequent, so nothing is lost),
        then a bitmask explode emits the row's 2^m − 1
        sub-itemsets (m ≤ ncols ≤ 12 — Kusto's own
        MaxDimensions default is 5) and ONE shuffle on
        the canonical column-ordered itemset array
        counts supports.

    NULL in the output marks a wildcard position (Kusto's shape); a
    genuinely-NULL frequent value is kept as an item via an internal
    marker and renders as NULL too (same ambiguity as the plain groupBy
    it replaces)."""
    frac = args.number(0) if args else 0.05
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )

    cols = df.columns
    if len(cols) > 12:
        raise KqlError(
            "basket supports at most 12 input columns — "
            "project the candidate dimensions first"
        )
    # persist the (already-projected) input across the two
    # passes; the total-count action doubles as the
    # cache-warming pass; released by release_caches().
    df = persist_registered(df)
    total = df.count()
    thresh = max(int(total * frac), 1)
    nullm = "\x00null\x00"
    sv = [
        F.coalesce(F.col(c).cast("string"), F.lit(nullm))
        for c in cols
    ]
    freq_rows = (
        df.select(F.explode(F.array(*[
            F.struct(F.lit(i).alias("ci"), v.alias("v"))
            for i, v in enumerate(sv)])).alias("it"))
        .groupBy("it.ci", "it.v")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= thresh)
        .collect()
    )
    freq: dict[int, list[str]] = {}
    for r in freq_rows:
        freq.setdefault(r.ci, []).append(r.v)
    if not freq:
        return df.limit(0).select(
            *[F.col(c).cast("string").alias(c)
              for c in cols],
            F.lit(0).cast("long").alias("support_count"),
        )
    row_items = F.filter(
        F.array(*[
            F.when(
                sv[i].isin(freq[i]),
                F.struct(F.lit(i).alias("ci"),
                         sv[i].alias("v")),
            )
            for i in sorted(freq)
        ]),
        lambda x: x.isNotNull(),
    )
    counted = (
        df.select(row_items.alias("__items"))
        .filter(F.size("__items") > 0)
        .select(
            "__items",
            F.expr(
                "explode(sequence(1, "
                "shiftleft(1, size(__items)) - 1))"
            ).alias("__mask"),
        )
        .select(F.expr(
            "filter(__items, (x, i) -> "
            "(shiftright(__mask, i) & 1) = 1)"
        ).alias("__set"))
        .groupBy("__set")
        .agg(F.count(F.lit(1)).alias("support_count"))
        .filter(F.col("support_count") >= thresh)
    )
    bm = F.map_from_entries("__set")
    return counted.select(*[
        F.when(
            F.try_element_at(bm, F.lit(i)) == nullm,
            F.lit(None).cast("string"),
        ).otherwise(F.try_element_at(bm, F.lit(i)))
        .alias(c)
        for i, c in enumerate(cols)
    ] + [F.col("support_count")])


@_plugin("autocluster", 0, 1)
def _ev_autocluster(df, args, **_):
    """`evaluate autocluster([MinPercentFrac])` — Kusto's third
    pattern-mining plugin (family: basket, diffpatterns): segments =
    attribute-value patterns covering a large share of the input.
    Documented subset of Kusto's seed-based search: ALL patterns of 1
    and 2 columns above the coverage threshold (deterministic,
    exhaustive at these sizes — the sizes that stay tractable without
    the seed heuristic). Output = Kusto's shape: segment_id (0-based, by
    coverage desc, stable tiebreak), count_, percent, then the input
    columns with NULL marking a wildcard position. Same persist-once leg
    loop as basket; the final ranking window runs over the tiny
    above-threshold pattern set only."""
    min_frac = args.number(0) if args else 0.05
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )

    df = persist_registered(df)
    ac_total = max(df.count(), 1)
    ac_thresh = max(int(ac_total * min_frac), 1)
    cols = df.columns
    legs = []

    def _ac_leg(keys):
        return (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("count_"))
            .filter(F.col("count_") >= ac_thresh)
            .select(*[
                (F.col(c).cast("string") if c in keys
                 else F.lit(None).cast("string")).alias(c)
                for c in cols
            ] + [F.col("count_")])
        )

    for i, c1 in enumerate(cols):
        legs.append(_ac_leg([c1]))
        for c2 in cols[i + 1:]:
            legs.append(_ac_leg([c1, c2]))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    pattern_key = F.concat_ws(
        "|", *[F.coalesce(F.col(c), F.lit("~*~"))
               for c in cols]
    )
    w = Window.orderBy(
        F.col("count_").desc(), pattern_key.asc()
    )
    return out.select(
        (F.row_number().over(w) - 1).alias("segment_id"),
        F.col("count_"),
        F.round(
            F.col("count_") / F.lit(float(ac_total)) * 100, 4
        ).alias("percent"),
        *cols,
    )


@_plugin("activity_engagement", 4, 6)
def _ev_activity_engagement(df, args, **_):
    """`evaluate activity_engagement(id, timeline, [datetime(start),
    datetime(end),] inner, outer)` — the Kusto DAU/MAU plugin: per
    inner-window slot, the ratio of distinct ids active in that slot to
    distinct ids active in the TRAILING outer window ending at it. Shape
    for scale: activity first collapses to DISTINCT (id, slot) — the
    only relation the rest touches — then the trailing membership is a
    bounded explode of k = outer/inner slot ids per activity row (k is a
    query constant, e.g. 7 or 28), never a range self-join. Without
    bounds, slots with no inner activity are not emitted (Kusto
    behavior); WITH explicit Start/End bounds every slot in
    [start//inner, end//inner] is emitted via a driver-range slot spine
    left-join (zero dcounts, null ratio when the outer window is empty),
    and records outside [start, end] are filtered first."""
    if len(args) == 5:
        raise KqlError(
            "activity_engagement: pass both datetime(start) and "
            "datetime(end), or neither")
    bounded = len(args) == 6
    idc, tc = args.col(0), args.col(1)
    inner_s = args.timespan(-2)
    outer_s = args.timespan(-1)
    k = outer_s / inner_s
    if k < 1 or abs(k - round(k)) > 1e-9:
        raise KqlError(
            "activity_engagement: OuterActivityWindow must "
            "be a positive integer multiple of "
            "InnerActivityWindow")
    k = int(round(k))
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )
    src = df
    if bounded:
        ae_t0, ae_t1 = args.datetime(2), args.datetime(3)
        ep = F.col(tc).cast("timestamp").cast("double")
        src = df.filter((ep >= ae_t0) & (ep <= ae_t1))
    slot = F.floor(
        F.col(tc).cast("timestamp").cast("double")
        / F.lit(float(inner_s))).cast("long")
    # act feeds both dcounts — persist so the distinct
    # shuffle runs once, not per consumer
    act = persist_registered(src.select(
        F.col(idc).alias("_id"), slot.alias("_slot")
    ).distinct())
    inner_d = act.groupBy("_slot").agg(
        F.count_distinct("_id").alias(
            "dcount_activities_inner"))
    outer_d = (
        act.select(
            "_id",
            F.explode(
                F.sequence(
                    F.col("_slot"),
                    F.col("_slot") + F.lit(k - 1))
            ).alias("_slot"))
        .distinct()
        .groupBy("_slot")
        .agg(F.count_distinct("_id").alias(
            "dcount_activities_outer"))
    )
    if bounded:
        spine = df.sparkSession.range(
            int(ae_t0 // inner_s), int(ae_t1 // inner_s) + 1
        ).select(F.col("id").alias("_slot"))
        joined = (
            spine.join(inner_d, "_slot", "left")
            .join(outer_d, "_slot", "left")
            .select(
                "_slot",
                F.coalesce(
                    "dcount_activities_inner", F.lit(0)
                ).alias("dcount_activities_inner"),
                F.coalesce(
                    "dcount_activities_outer", F.lit(0)
                ).alias("dcount_activities_outer"),
            )
        )
    else:
        joined = inner_d.join(outer_d, "_slot", "inner")
    return joined.select(
        F.timestamp_seconds(
            F.col("_slot") * F.lit(float(inner_s))
        ).cast("timestamp_ntz").alias(tc),
        "dcount_activities_inner",
        "dcount_activities_outer",
        F.when(
            F.col("dcount_activities_outer") > 0,
            F.round(
                F.col("dcount_activities_inner")
                / F.col("dcount_activities_outer"), 6
            ),
        ).alias("activity_ratio"),
    )


@_plugin("ipv4_lookup", 3, 4)
def _ev_ipv4_lookup(df, args, tables, **_):
    """`evaluate ipv4_lookup(LookupTable, SourceIPColumn, IPNetworkColumn[,
    return_unmatched])` — longest-prefix-match CIDR enrichment, the
    classic distributed LPM join: the lookup table derives (mask len m,
    prefix = ⌊net/2^(32−m)⌋); each DISTINCT source IP explodes into one
    candidate (m, prefix) per mask length PRESENT in the table (≤33 by
    IPv4 construction — the one bounded driver collect), equi-joins the
    broadcast lookup (a dimension by contract), and a per-IP rank keeps
    the longest mask (ties broken on the network string). The enriched
    (ip → row) map then joins back on the IP key — never a theta/range
    join."""
    lut, ipc, netc, how = _ip_lookup_args(args, tables)
    netp = F.split(F.col(netc), "/")
    mlen = F.coalesce(
        F.try_element_at(netp, F.lit(2)).try_cast("int"),
        F.lit(32))
    nint = _ip2long(F.try_element_at(netp, F.lit(1)))
    lut2 = lut.withColumns({
        "__m": mlen,
        "__pref": F.floor(
            nint / F.pow(F.lit(2.0), 32 - mlen)
        ).cast("long"),
    })
    masks = sorted(
        r[0] for r in
        lut2.select("__m").distinct().collect()
        if r[0] is not None)
    if not masks:
        raise KqlError("ipv4_lookup: empty lookup table")
    ips = (
        df.select(F.col(ipc).alias("__ip")).distinct()
        .withColumn("__ipl", _ip2long(F.col("__ip")))
    )
    cand = ips.select(
        "__ip",
        F.explode(F.array(*[
            F.struct(
                F.lit(m).alias("__m"),
                F.floor(
                    F.col("__ipl")
                    / F.lit(float(2 ** (32 - m)))
                ).cast("long").alias("__pref"))
            for m in masks])).alias("__c"),
    ).select("__ip", "__c.__m", "__c.__pref")
    matched = cand.join(
        F.broadcast(lut2), ["__m", "__pref"], "inner")
    wip = Window.partitionBy("__ip").orderBy(
        F.col("__m").desc(), F.col(netc).asc())
    best = (
        matched.withColumn(
            "__r", F.row_number().over(wip))
        .filter(F.col("__r") == 1)
        .drop("__m", "__pref", "__r", "__ipl")
    )
    for c in best.columns:
        if c != "__ip" and c in df.columns:
            best = best.withColumnRenamed(c, c + "1")
    return df.join(
        best, df[ipc] == best["__ip"], how
    ).drop("__ip")


@_plugin("ipv6_lookup", 3, 4)
def _ev_ipv6_lookup(df, args, tables, **_):
    """`evaluate ipv6_lookup(LookupTable, SourceIPColumn, IPNetworkColumn[,
    return_unmatched])` — the IPv6 twin of ipv4_lookup's distributed
    LPM: the lookup table derives (mask m, masked canonical prefix) per
    network; each DISTINCT source IP parses its 16-bit groups ONCE
    (`_ipv6_group_vals`) and derives one candidate canonical per mask
    length PRESENT in the table (≤129 by construction — the one bounded
    driver collect), equi-joins the broadcast lookup, and a per-IP rank
    keeps the longest mask (ties on the network string). Enriched rows
    join back on the IP key — never a theta join on the big side."""
    lut, ipc, netc, how = _ip_lookup_args(args, tables)
    netp = F.split(F.col(netc), "/")
    mlen6 = F.coalesce(
        F.try_element_at(netp, F.lit(2)).try_cast("int"),
        F.lit(128))
    lut2 = lut.withColumns({
        "__m": mlen6,
        "__pref": _parse_ipv6_masked(
            F.try_element_at(netp, F.lit(1)), mlen6),
    })
    masks = sorted(
        r[0] for r in
        lut2.select("__m").distinct().collect()
        if r[0] is not None)
    if not masks:
        raise KqlError("ipv6_lookup: empty lookup table")
    ips = (
        df.select(F.col(ipc).alias("__ip")).distinct()
        .withColumn("__g", _ipv6_group_vals(F.col("__ip")))
    )
    cand = ips.select(
        "__ip",
        F.explode(F.array(*[
            F.struct(
                F.lit(m).alias("__m"),
                _ipv6_canon_from_groups(
                    F.col("__g"), F.lit(m)
                ).alias("__pref"))
            for m in masks])).alias("__c"),
    ).select("__ip", "__c.__m", "__c.__pref")
    matched = cand.join(
        F.broadcast(lut2), ["__m", "__pref"], "inner")
    wip = Window.partitionBy("__ip").orderBy(
        F.col("__m").desc(), F.col(netc).asc())
    best = (
        matched.withColumn(
            "__r", F.row_number().over(wip))
        .filter(F.col("__r") == 1)
        .drop("__m", "__pref", "__r")
    )
    for c in best.columns:
        if c != "__ip" and c in df.columns:
            best = best.withColumnRenamed(c, c + "1")
    return df.join(
        best, df[ipc] == best["__ip"], how
    ).drop("__ip")


@_plugin("active_users_count", 5, 5)
def _ev_active_users_count(df, args, **_):
    """`evaluate active_users_count(id, timeline, period, lookback,
    min_active_periods)` — per period slot, the count of ids active in ≥
    m DISTINCT periods of the trailing lookback window (Kusto's plugin
    with its ActivePeriodsCount threshold). Same scale shape as
    activity_engagement: distinct (id, slot) first, then a bounded
    k=lookback/period explode carrying the SOURCE slot, so the
    per-(target, id) aggregate counts distinct active periods; ids
    crossing the threshold aggregate once more to the per-slot count."""
    idc, tc = args.col(0), args.col(1)
    per_s = args.timespan(2)
    look_s = args.timespan(3)
    k = look_s / per_s
    if k < 1 or abs(k - round(k)) > 1e-9:
        raise KqlError(
            "active_users_count: LookbackWindow must be a "
            "positive integer multiple of Period")
    k, m = int(round(k)), args.integer(4)
    if m > k:
        raise KqlError(
            "active_users_count: MinActivePeriods must be "
            "in [1, lookback/period]")
    slot = F.floor(
        F.col(tc).cast("timestamp").cast("double")
        / F.lit(float(per_s))).cast("long")
    act = df.select(
        F.col(idc).alias("_id"), slot.alias("_slot")
    ).distinct()
    # act is DISTINCT (id, slot), so after the explode each
    # (target slot, id) row stands for one distinct active
    # source period — a plain count IS the distinct-period
    # count, no second distinct needed
    spread = act.select(
        "_id",
        F.explode(F.sequence(
            F.col("_slot"),
            F.col("_slot") + F.lit(k - 1))).alias("_slot"))
    per_id = spread.groupBy("_slot", "_id").agg(
        F.count(F.lit(1)).alias("_np"))
    return (
        per_id.filter(F.col("_np") >= m)
        .groupBy("_slot")
        .agg(F.count(F.lit(1)).alias("dcount_values"))
        .select(
            F.timestamp_seconds(
                F.col("_slot") * F.lit(float(per_s))
            ).cast("timestamp_ntz").alias(tc),
            "dcount_values")
    )


@_plugin("sliding_window_counts", 6, None)
def _ev_sliding_window_counts(df, args, **_):
    """`evaluate sliding_window_counts(id, timeline, datetime(start),
    datetime(end), LookbackWindow, Bin [, dim…])` — per bin in [start,
    end]: record count and distinct-id count over the trailing lookback
    window (Kusto's plugin). Scale shape: one per-(slot, dims) aggregate
    for counts and one DISTINCT (id, slot, dims) relation for dcounts,
    each spread to its k = lookback/bin target bins by a bounded explode
    (k is a query constant) — never a range self-join. The bin spine
    (range × distinct dims — both small by plugin contract) left-joins
    so empty bins emit zeros. Records in the pre-start lookback tail
    [start − lookback + bin, start) seed the first bins (full Kusto
    semantics): the slot filter keeps slot ≥ s0 − k + 1, and the target
    sequence clamps to [s0, e0] so pre-start rows contribute without
    emitting pre-start bins."""
    idc, tc, dims = args.col(0), args.col(1), args.cols(6)
    bin_s = args.timespan(5)
    look_s = args.timespan(4)
    k = look_s / bin_s
    if k < 1 or abs(k - round(k)) > 1e-9:
        raise KqlError(
            "sliding_window_counts: LookbackWindow must be "
            "a positive integer multiple of Bin")
    k = int(round(k))
    t0, t1 = args.datetime(2), args.datetime(3)
    s0 = int(t0 // bin_s)
    e0 = int(t1 // bin_s)
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )
    epoch = F.col(tc).cast("timestamp").cast("double")
    slot_raw = F.floor(
        epoch / F.lit(float(bin_s))).cast("long")
    # ev feeds both the count and the distinct-id legs —
    # persist so the filtered scan runs once; the lower
    # bound admits the pre-start lookback tail
    ev = persist_registered(
        df.filter(
            (epoch <= t1) & (slot_raw >= s0 - k + 1)
        ).select(
            *dims, F.col(idc).alias("_id"),
            slot_raw.alias("_s")))
    tgt = F.explode(F.sequence(
        F.greatest(F.col("_s"), F.lit(s0)),
        F.least(F.col("_s") + F.lit(k - 1), F.lit(e0)),
    )).alias("_t")
    cnts = (
        ev.select(*dims, tgt)
        .groupBy(*dims, "_t")
        .agg(F.count(F.lit(1)).alias("count_"))
    )
    dcs = (
        ev.distinct()
        .select(*dims, "_id", tgt)
        .groupBy(*dims, "_t")
        .agg(F.count_distinct("_id").alias("dcount"))
    )
    spine = df.sparkSession.range(s0, e0 + 1).select(
        F.col("id").alias("_t"))
    if dims:
        spine = spine.crossJoin(
            ev.select(*dims).distinct())
    return (
        spine.join(cnts, ["_t", *dims], "left")
        .join(dcs, ["_t", *dims], "left")
        .select(
            F.timestamp_seconds(
                F.col("_t") * F.lit(float(bin_s))
            ).cast("timestamp_ntz").alias(tc),
            *dims,
            F.coalesce("count_", F.lit(0)).alias("count_"),
            F.coalesce("dcount", F.lit(0)).alias("dcount"),
        )
    )


@_plugin("rolling_percentile", 5, None)
def _ev_rolling_percentile(df, args, **_):
    """`evaluate rolling_percentile(ValueColumn, Percentile, IndexColumn,
    BinSize, BinsPerWindow [, dim…])` — per bin of the index column, the
    EXACT percentile of the value over the trailing BinsPerWindow bins
    (Kusto's plugin; exact rather than t-digest — F.percentile is a
    single-pass partial aggregate and matches the DuckDB oracle's
    quantile_cont bit-for-bit). Scale shape: each row spreads to its W
    target bins by a bounded explode (W is a query constant), then ONE
    hash aggregate per (bin, dims) — no range self-join, no per-row
    window. Every bin the spread reaches is emitted (full Kusto
    semantics): trailing and gap bins that only inherit lookback rows
    get their percentile from the inherited window."""
    vc, ic, dims = args.col(0), args.col(2), args.cols(5)
    w = args.integer(4)
    pct = args.number(1)
    is_ts = dict(df.dtypes)[ic].startswith("timestamp")
    if is_ts:
        bin_s = args.timespan(3)
        idx = F.col(ic).cast("timestamp").cast("double")
    else:
        bin_s = args.number(3)
        idx = F.col(ic).cast("double")
    slot = F.floor(idx / F.lit(bin_s)).cast("long")
    spread = df.select(
        *dims, F.col(vc).alias("_v"),
        F.explode(F.sequence(
            slot, slot + F.lit(w - 1)
        )).alias("_t"))
    out_name = (
        f"rolling_{w}_percentile_{vc}_"
        + (f"{pct:g}".replace(".", "_")))
    agg = (
        spread.groupBy(*dims, "_t")
        .agg(F.percentile("_v", F.lit(pct / 100.0))
             .alias(out_name))
    )
    bcol = (
        F.timestamp_seconds(F.col("_t") * F.lit(bin_s))
        .cast("timestamp_ntz") if is_ts
        else (F.col("_t") * F.lit(bin_s))
    ).alias(ic)
    return agg.select(bcol, *dims, out_name)


@_plugin("activity_counts_metrics", 5, 5)
def _ev_activity_counts_metrics(df, args, **_):
    """`evaluate activity_counts_metrics(id, timeline, datetime(start),
    datetime(end), bin)` — per bin: record count, distinct ids,
    first-ever-seen ids (new_dcount) and the running distinct total
    (aggregated_dcount = ids seen so far ≡ cumulative sum of new). One
    DISTINCT (id, slot) relation feeds everything; the only window is
    the running sum over the BIN SPINE — a (end−start)/bin-row relation,
    the skew-free small-relation global window (same shape as
    training_order's bucket offsets)."""
    idc, tc = args.col(0), args.col(1)
    bin_s = args.timespan(4)
    t0, t1 = args.datetime(2), args.datetime(3)
    s0, e0 = int(t0 // bin_s), int(t1 // bin_s)
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )
    epoch = F.col(tc).cast("timestamp").cast("double")
    base = persist_registered(
        df.filter((epoch >= t0) & (epoch <= t1)).select(
            F.col(idc).alias("_id"),
            F.floor(epoch / F.lit(float(bin_s)))
            .cast("long").alias("_s")))
    per_bin = base.groupBy("_s").agg(
        F.count(F.lit(1)).alias("count_"),
        F.count_distinct("_id").alias("dcount"))
    news = (
        base.groupBy("_id").agg(F.min("_s").alias("_s"))
        .groupBy("_s")
        .agg(F.count(F.lit(1)).alias("new_dcount"))
    )
    spine = df.sparkSession.range(s0, e0 + 1).select(
        F.col("id").alias("_s"))
    wrun = Window.orderBy("_s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (
        spine.join(per_bin, "_s", "left")
        .join(news, "_s", "left")
        .select(
            "_s",
            F.coalesce("count_", F.lit(0)).alias("count_"),
            F.coalesce("dcount", F.lit(0)).alias("dcount"),
            F.coalesce("new_dcount", F.lit(0))
            .alias("new_dcount"))
        .withColumn(
            "aggregated_dcount",
            F.sum("new_dcount").over(wrun))
        .select(
            F.timestamp_seconds(
                F.col("_s") * F.lit(float(bin_s))
            ).cast("timestamp_ntz").alias(tc),
            "count_", "dcount", "new_dcount",
            "aggregated_dcount")
    )


@_plugin("session_count", 6, 6)
def _ev_session_count(df, args, **_):
    """`evaluate session_count(id, timeline, datetime(start),
    datetime(end), Bin, LookBackWindow)` — active sessions per bin. A
    session starts at an activity with no same-id activity in the
    preceding LookBackWindow and stays active until LookBackWindow after
    its last activity (this engine's precise rendering of Kusto's
    plugin; boundary: gap strictly greater than the window starts a new
    session). Shape: gap-sessionize per id (one lag+cumsum window, one
    shuffle), one aggregate to session spans, then each span explodes to
    the bins it covers — bounded by the query's own (End−Start)/Bin bin
    count, never by data size."""
    idc, tc = args.col(0), args.col(1)
    bin_s = args.timespan(4)
    look_s = args.timespan(5)
    t0, t1 = args.datetime(2), args.datetime(3)
    s0, e0 = int(t0 // bin_s), int(t1 // bin_s)
    from otel_arrow_spark.operators.sequence import (
        sessionize,
    )
    epoch = F.col(tc).cast("timestamp").cast("double")
    base = df.filter((epoch >= t0) & (epoch <= t1)).select(
        F.col(idc).alias("_id"), epoch.alias("_e"))
    sess = sessionize(base, ["_id"], "_e", look_s)
    spans = sess.groupBy("_id", "session_id").agg(
        F.min("_e").alias("_st"),
        F.max("_e").alias("_en"))
    b0 = F.floor(
        F.col("_st") / F.lit(float(bin_s))).cast("long")
    b1 = F.least(
        F.floor((F.col("_en") + F.lit(float(look_s)))
                / F.lit(float(bin_s))).cast("long"),
        F.lit(e0))
    bins = spans.select(
        F.explode(F.sequence(b0, b1)).alias("_t"))
    counts = bins.groupBy("_t").agg(
        F.count(F.lit(1)).alias("count_sessions"))
    spine = df.sparkSession.range(s0, e0 + 1).select(
        F.col("id").alias("_t"))
    return (
        spine.join(counts, "_t", "left")
        .select(
            F.timestamp_seconds(
                F.col("_t") * F.lit(float(bin_s))
            ).cast("timestamp_ntz").alias(tc),
            F.coalesce("count_sessions", F.lit(0))
            .alias("count_sessions"))
    )


@_plugin("new_activity_metrics", 5, None)
def _ev_new_activity_metrics(df, args, **_):
    """`evaluate new_activity_metrics(id, timeline, datetime(start),
    datetime(end), window)` — cohort retention matrix: ids are cohorted
    by the window of their FIRST activity; for every (from, to) pair the
    plugin reports the cohort size, how many of the cohort were active
    at `to`, and the retention/churn rates. Shape: first-activity
    aggregate → cohort join back on id → one (cohort, slot) count; the
    (from, to) spine is range×range (bins², small) left-joined so
    silent-cohort bins emit zeros. Trailing bare column names are split
    dimensions (Kusto's *dim variant): activity, cohorting, and the
    spine all carry the dim tuple, so each dim combination gets its own
    cohort matrix."""
    idc, tc, nam_dims = args.col(0), args.col(1), args.cols(5)
    win_s = args.timespan(4)
    t0, t1 = args.datetime(2), args.datetime(3)
    s0, e0 = int(t0 // win_s), int(t1 // win_s)
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )
    epoch = F.col(tc).cast("timestamp").cast("double")
    act = persist_registered(
        df.filter((epoch >= t0) & (epoch <= t1)).select(
            *nam_dims,
            F.col(idc).alias("_id"),
            F.floor(epoch / F.lit(float(win_s)))
            .cast("long").alias("_s")).distinct())
    firsts = act.groupBy(*nam_dims, "_id").agg(
        F.min("_s").alias("_from"))
    cohort_n = firsts.groupBy(*nam_dims, "_from").agg(
        F.count(F.lit(1)).alias("new_dcount"))
    ret = (
        act.join(firsts, [*nam_dims, "_id"])
        .groupBy(*nam_dims, "_from",
                 F.col("_s").alias("_to"))
        .agg(F.count(F.lit(1)).alias("retained_dcount"))
    )
    sess = df.sparkSession
    spine = (
        sess.range(s0, e0 + 1).select(
            F.col("id").alias("_from"))
        .crossJoin(sess.range(s0, e0 + 1).select(
            F.col("id").alias("_to")))
        .filter(F.col("_to") >= F.col("_from"))
    )
    if nam_dims:
        spine = spine.crossJoin(
            act.select(*nam_dims).distinct())
    return (
        spine
        .join(F.broadcast(cohort_n),
              [*nam_dims, "_from"], "left")
        .join(ret, [*nam_dims, "_from", "_to"], "left")
        .select(
            F.timestamp_seconds(
                F.col("_from") * F.lit(float(win_s))
            ).cast("timestamp_ntz").alias("from_" + tc),
            F.timestamp_seconds(
                F.col("_to") * F.lit(float(win_s))
            ).cast("timestamp_ntz").alias("to_" + tc),
            *nam_dims,
            F.coalesce("new_dcount", F.lit(0))
            .alias("new_dcount"),
            F.coalesce("retained_dcount", F.lit(0))
            .alias("retained_dcount"),
            F.round(
                F.coalesce("retained_dcount", F.lit(0))
                / F.col("new_dcount"), 6
            ).alias("retention_rate"),
            F.round(
                1 - F.coalesce("retained_dcount", F.lit(0))
                / F.col("new_dcount"), 6
            ).alias("churn_rate"),
        )
    )


@_plugin("activity_metrics", 3, 5)
def _ev_activity_metrics(df, args, **_):
    """`evaluate activity_metrics(id, timeline, [datetime(start),
    datetime(end),] window)` — per window slot: distinct actives,
    first-ever-seen actives (new), retention rate (slot t-1 actives
    still active in t / slot t-1 actives) and churn (1 − retention). All
    from ONE distinct (id, slot) relation: new = min-slot-per-id
    aggregate, retained = self equi-join on (id, slot-1) — no window
    over ids, no range join. Without bounds, slots with no activity are
    not emitted; WITH bounds every slot in [start//win, end//win] is
    emitted via a driver-range spine left-join (zero dcounts, null
    rates), with out-of-bounds records filtered first — the same bounded
    contract as activity_engagement."""
    if len(args) == 4:
        raise KqlError(
            "activity_metrics: pass both datetime(start) and "
            "datetime(end), or neither")
    bounded = len(args) == 5
    idc, tc = args.col(0), args.col(1)
    win_s = args.timespan(-1)
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )
    src = df
    if bounded:
        am_t0, am_t1 = args.datetime(2), args.datetime(3)
        ep = F.col(tc).cast("timestamp").cast("double")
        src = df.filter((ep >= am_t0) & (ep <= am_t1))
    slot = F.floor(
        F.col(tc).cast("timestamp").cast("double")
        / F.lit(float(win_s))).cast("long")
    # act feeds four consumers (dcounts, firsts, both
    # sides of the retained self-join) — persist so the
    # distinct shuffle runs once
    act = persist_registered(src.select(
        F.col(idc).alias("_id"), slot.alias("_slot")
    ).distinct())
    dcounts = act.groupBy("_slot").agg(
        F.count(F.lit(1)).alias("dcount_values"))
    firsts = act.groupBy("_id").agg(
        F.min("_slot").alias("_slot"))
    news = firsts.groupBy("_slot").agg(
        F.count(F.lit(1)).alias("dcount_newvalues"))
    nxt = act.select(
        "_id", (F.col("_slot") + 1).alias("_slot"))
    retained = act.join(nxt, ["_id", "_slot"]).groupBy(
        "_slot").agg(F.count(F.lit(1)).alias("_ret"))
    prev_d = dcounts.select(
        (F.col("_slot") + 1).alias("_slot"),
        F.col("dcount_values").alias("_prev"))
    if bounded:
        spine = df.sparkSession.range(
            int(am_t0 // win_s), int(am_t1 // win_s) + 1
        ).select(F.col("id").alias("_slot"))
        base = spine.join(dcounts, "_slot", "left")
    else:
        base = dcounts
    out = (
        base
        .join(news, "_slot", "left")
        .join(retained, "_slot", "left")
        .join(prev_d, "_slot", "left")
    )
    rr = F.when(
        F.col("_prev").isNotNull(),
        F.round(
            F.coalesce(F.col("_ret"), F.lit(0))
            / F.col("_prev"), 6))
    return out.select(
        F.timestamp_seconds(
            F.col("_slot") * F.lit(float(win_s))
        ).cast("timestamp_ntz").alias(tc),
        F.coalesce(
            F.col("dcount_values"), F.lit(0)
        ).alias("dcount_values"),
        F.coalesce(
            F.col("dcount_newvalues"), F.lit(0)
        ).alias("dcount_newvalues"),
        rr.alias("retention_rate"),
        F.when(rr.isNotNull(),
               F.round(1 - rr, 6)).alias("churn_rate"),
    )


@_plugin("dcount_intersect", 2, 4)
def _ev_dcount_intersect(df, args, **_):
    """`evaluate dcount_intersect(hll_1, …, hll_n)` — Kusto's
    set-intersection-cardinality plugin over hll() sketch columns: s_k =
    |A_1 ∩ … ∩ A_{k+1}| by inclusion-exclusion over row-level sketch
    unions (F.hll_union — sketches are fixed-size, so the whole
    computation is per-row JVM codegen, no re-scan of the source rows:
    the 100 TB shape where the heavy distinct work happened once in the
    upstream hll() aggregate). Sparse-mode sketches make it exact at
    gate scale (aggregates.md); estimates are clamped at ≥ 0."""
    hcols = args.cols(0)
    from itertools import combinations as _combos

    def _union_est(sub: tuple) -> Column:
        c = F.col(sub[0])
        for x in sub[1:]:
            c = F.hll_union(c, x)
        return F.hll_sketch_estimate(c)

    outs = {}
    for k in range(1, len(hcols) + 1):
        e = None
        for r in range(1, k + 1):
            for sub in _combos(hcols[:k], r):
                t = _union_est(sub)
                t = t if r % 2 == 1 else -t
                e = t if e is None else e + t
        outs[f"s{k - 1}"] = F.greatest(
            e, F.lit(0)).cast("long")
    keep = [c for c in df.columns if c not in hcols]
    return df.select(
        *keep,
        *[outs[n].alias(n) for n in sorted(outs)])


@_plugin("funnel_sequence_completion", 8, 8)
def _ev_funnel_sequence_completion(df, args, **_):
    """`evaluate funnel_sequence_completion(id, timeline, datetime(start),
    datetime(end), Bin, state, dynamic(['s1', …]), dynamic([w1, …]))` —
    per sequence PREFIX and per bin, how many ids completed that prefix
    in the bin (the funnel-completion matrix). Prefix k completes at the
    anchored-earliest chain's t_k with the FROM-FIRST bound t_k − t_1 ≤
    w_k (each w_k a timespan literal, one per step). Shape: k chained
    set-minima windows over ONE per-id Exchange (the from-first bound
    references t_1, itself a partition constant — still pure windows, no
    state machine), one per-id aggregate, then one small (step, bin)
    count."""
    idc, tc, statec = args.col(0), args.col(1), args.col(5)
    seq = args.dynamic(6)
    wins = args.dynamic(7, _timespan_secs)
    if len(seq) < 1 or len(wins) not in (
            len(seq), max(len(seq) - 1, 1)):
        raise KqlError(
            "funnel_sequence_completion: one max window "
            "per step (or per transition)")
    if len(wins) == len(seq) - 1:
        # per-transition form → shift to per-step (the
        # anchor step has no bound)
        wins = [0.0] + wins
    bin_s = args.timespan(4)
    t0, t1e = args.datetime(2), args.datetime(3)
    epoch = F.col(tc).cast("timestamp").cast("double")
    base = df.filter((epoch >= t0) & (epoch <= t1e)).select(
        F.col(idc).alias("_id"), epoch.alias("_e"),
        F.col(statec).alias("_st"))
    wid = Window.partitionBy("_id")
    chain = base
    prev_t = None
    first_t = None
    tcols = []
    for i, s in enumerate(seq):
        cond = F.col("_st") == s
        if prev_t is not None:
            cond = cond & (F.col("_e") > prev_t) & (
                F.col("_e")
                <= first_t + F.lit(float(wins[i])))
        col = f"_t{i}"
        chain = chain.withColumn(
            col, F.min(F.when(cond, F.col("_e"))).over(wid))
        prev_t = F.col(col)
        if first_t is None:
            first_t = F.col(col)
        tcols.append(col)
    per_id = chain.groupBy("_id").agg(
        *[F.min(c).alias(c) for c in tcols])
    legs = []
    for i, s in enumerate(seq):
        legs.append(
            per_id.filter(F.col(tcols[i]).isNotNull())
            .select(
                F.lit(s).alias(statec),
                F.floor(
                    F.col(tcols[i]) / F.lit(float(bin_s))
                ).cast("long").alias("_b"))
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.groupBy(statec, "_b").agg(
        F.count(F.lit(1)).alias("dcount")
    ).select(
        F.timestamp_seconds(
            F.col("_b") * F.lit(float(bin_s))
        ).cast("timestamp_ntz").alias(tc),
        statec, "dcount")


@_plugin("funnel_sequence", 7, 7)
def _ev_funnel_sequence(df, args, **_):
    """`evaluate funnel_sequence(id, timeline, datetime(start),
    datetime(end), MaxStepWindow, state, dynamic(['s1', 's2', …]))` —
    for ids that performed the state sequence (anchored-earliest chain,
    adjacent steps within MaxStepWindow), the distribution of the state
    just BEFORE the sequence and just AFTER it — Kusto's funnel context
    plugin. Shape: the chain is funnel_steps' set-minima (N windows over
    ONE per-id Exchange — no sort, no state machine); prev/next are two
    max_by/min_by aggregates against the completed-id anchors. Ties in
    the timeline break on the state value (documented; keeps both
    engines deterministic)."""
    idc, tc, statec = args.col(0), args.col(1), args.col(5)
    seq = args.dynamic(6)
    if len(seq) < 2:
        raise KqlError(
            "funnel_sequence: the sequence needs ≥ 2 states")
    win_s = args.timespan(4)
    t0, t1 = args.datetime(2), args.datetime(3)
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )
    epoch = F.col(tc).cast("timestamp").cast("double")
    # base feeds the chain windows AND both context lookups
    base = persist_registered(
        df.filter((epoch >= t0) & (epoch <= t1)).select(
            F.col(idc).alias("_id"),
            epoch.alias("_e"),
            F.col(statec).alias("_st")))
    wid = Window.partitionBy("_id")
    chain = base
    prev_t = None
    tcols = []
    for i, s in enumerate(seq):
        cond = F.col("_st") == s
        if prev_t is not None:
            cond = cond & (F.col("_e") > prev_t) & (
                F.col("_e") <= prev_t + F.lit(float(win_s)))
        col = f"_t{i}"
        chain = chain.withColumn(
            col, F.min(F.when(cond, F.col("_e"))).over(wid))
        prev_t = F.col(col)
        tcols.append(col)
    anchors = (
        chain.groupBy("_id")
        .agg(F.min(tcols[0]).alias("_first"),
             F.min(tcols[-1]).alias("_last"))
        .filter(F.col("_last").isNotNull())
    )
    prevs = (
        base.join(anchors, "_id")
        .filter(F.col("_e") < F.col("_first"))
        .groupBy("_id")
        .agg(F.max_by(
            "_st", F.struct("_e", "_st")).alias("prev"))
    )
    nexts = (
        base.join(anchors, "_id")
        .filter(F.col("_e") > F.col("_last"))
        .groupBy("_id")
        .agg(F.min_by(
            "_st", F.struct("_e", "_st")).alias("next"))
    )
    return (
        anchors
        .join(prevs, "_id", "left")
        .join(nexts, "_id", "left")
        .groupBy("prev", "next")
        .agg(F.count_distinct("_id").alias("dcount"))
    )


@_plugin("sequence_detect", 5, None)
def _ev_sequence_detect(df, args, pe, **_):
    """`evaluate sequence_detect(timeline, stepWindow, maxDuration, step1,
    step2, …, key1, …)` — steps are boolean columns/expressions (or
    `name = pred` extensions), trailing bare names of non-boolean input
    columns are the partition keys (the Kusto argument order makes this
    split unambiguous). Compiles to chained window set-minima
    (operators/sequence.py sequence_detect; anchored-earliest subset
    documented there)."""
    from otel_arrow_spark.operators.sequence import (
        sequence_detect,
    )
    timeline = args.col(0)
    win_s = args.timespan(1)
    dur_s = args.timespan(2)
    bool_cols = {
        f.name for f in df.schema.fields
        if f.dataType.typeName() == "boolean"
    }
    rest_parts = args[3:]
    keys: list[str] = []
    while rest_parts and re.fullmatch(
            r"[A-Za-z_]\w*", rest_parts[-1]) and \
            rest_parts[-1] in df.columns and \
            rest_parts[-1] not in bool_cols:
        keys.insert(0, rest_parts.pop())
    if not keys:
        raise KqlError(
            "sequence_detect needs at least one trailing "
            "key column (non-boolean input column)")
    if len(rest_parts) < 2:
        raise KqlError(
            "sequence_detect needs at least two steps")
    steps = []
    for i, p in enumerate(rest_parts):
        nm, ex = None, p
        for an, ae in _parse_assignments(p):
            nm, ex = an, ae
        name = nm or (
            ex if re.fullmatch(r"[A-Za-z_]\w*", ex.strip())
            else f"expr{i + 1}")
        steps.append(
            (name.strip(), pe(ex).cast("boolean")))
    return sequence_detect(
        df, keys, timeline, win_s, dur_s, steps)


@_plugin("diffpatterns_text", 2, 3)
def _ev_diffpatterns_text(df, args, pe, **_):
    """`evaluate diffpatterns_text(text_col, split_pred [, top_k])` —
    Kusto's text-cohort diff plugin, re-expressed as its documented
    token-level subset: whitespace-tokenize the text, count LINES
    containing each distinct token in the split=true (1) vs split=false
    (2) cohorts, and return the top_k tokens (default 32) by |Percent1 −
    Percent2| (Kusto mines multi-token wildcard patterns seeded from the
    same per-token divergences; single tokens are the deterministic,
    exhaustive core of that search). Shape follows Kusto: Count1,
    Count2, Percent1, Percent2, Pattern. All JVM: split → array_distinct
    → explode → one conditional aggregate; the two cohort totals ride
    the same pass as a grand-total row."""
    dt_text = pe(args[0]).cast("string")
    dt_pred = pe(args[1]).cast("boolean")
    dt_k = args.integer(2) if len(args) == 3 else 32
    toks = F.array_distinct(F.filter(
        F.split(F.coalesce(dt_text, F.lit("")), r"\s+"),
        lambda t: t != ""))
    base = df.select(
        dt_pred.alias("__in1"),
        # grand-total sentinel rides as one extra token so
        # cohort sizes come out of the SAME aggregate
        F.array_union(
            toks, F.array(F.lit(" total"))
        ).alias("__toks"))
    tok = base.select(
        "__in1",
        F.explode("__toks").alias("Pattern"))
    counted = tok.groupBy("Pattern").agg(
        F.count_if(F.col("__in1")).alias("Count1"),
        F.count_if(~F.col("__in1")).alias("Count2"))
    tot = F.broadcast(
        counted.filter(F.col("Pattern") == " total")
        .select(F.col("Count1").alias("__t1"),
                F.col("Count2").alias("__t2")))
    scored = (
        counted.filter(F.col("Pattern") != " total")
        .crossJoin(tot)
        .select(
            "Count1", "Count2",
            F.round(100.0 * F.col("Count1")
                    / F.greatest("__t1", F.lit(1)), 4)
            .alias("Percent1"),
            F.round(100.0 * F.col("Count2")
                    / F.greatest("__t2", F.lit(1)), 4)
            .alias("Percent2"),
            "Pattern"))
    return (
        scored
        # round the rank key too: 100−33.3333 and
        # 66.6667−0 must TIE, not differ in the last ulp
        .orderBy(
            F.round(F.abs(F.col("Percent1")
                          - F.col("Percent2")), 4).desc(),
            F.col("Pattern"))
        .limit(dt_k))


@_plugin("diffpatterns", 1, 2)
def _ev_diffpatterns(df, args, pe, **_):
    """`evaluate diffpatterns(split_pred [, max_size])` — the Kusto
    cohort-comparison plugin: for every column subset of size ≤ max_size
    (default 1) of the input's non-split columns, report
    per-value-combination counts and cohort fractions in the split=true
    (A) vs split=false (B) cohorts, with the fraction delta. max_size ≤
    2 runs one map-side-combinable conditional aggregation per leg;
    max_size ≥ 3 switches to a single-shuffle bitmask-explode over all
    subsets (bounded by an 8-column cap). Long-form stacked output (the
    facet shape; a multi-column pattern renders as pattern_column
    "c1&c2…" with '&'-joined values, NULLs marked). The projected input
    is persisted across the passes (the cohort-total action warms it);
    released via release_caches()."""
    max_size = args.integer(1) if len(args) == 2 else 1
    from otel_arrow_spark.dataops.dedup import (
        persist_registered,
    )

    pred = pe(args[0]).cast("boolean")
    base = persist_registered(df.withColumn("_split", pred))
    na = F.sum(F.when(F.col("_split"), 1).otherwise(0))
    nb = F.sum(F.when(~F.col("_split"), 1).otherwise(0))
    tot = base.agg(na.alias("na"), nb.alias("nb")).collect()[0]
    ta, tb = max(tot.na, 1), max(tot.nb, 1)

    def _null_marked(c: str) -> Column:
        return F.coalesce(
            F.col(c).cast("string"), F.lit("~null~")
        )

    def _dp_leg(pat_name: Column, value: Column, keys):
        return (
            base.groupBy(*keys)
            .agg(na.alias("count_a"), nb.alias("count_b"))
            .select(
                pat_name.alias("pattern_column"),
                value.alias("value"),
                "count_a",
                "count_b",
                F.round(F.col("count_a") / F.lit(ta), 6)
                .alias("pct_a"),
                F.round(F.col("count_b") / F.lit(tb), 6)
                .alias("pct_b"),
                F.round(
                    F.col("count_a") / F.lit(ta)
                    - F.col("count_b") / F.lit(tb), 6
                ).alias("diff"),
            )
        )

    if max_size > 2:
        # arbitrary-subset mining, ONE shuffle: each row
        # explodes into its column subsets of size ≤
        # max_size via a constant-folded bitmask list
        # (Σ C(ncols, k) per row — hence the explicit
        # column cap), then a single grouped conditional
        # aggregation on the canonical column-ordered
        # subset array covers every pattern at once.
        dpcols = df.columns
        if len(dpcols) > 8:
            raise KqlError(
                "diffpatterns with max_size > 2 supports "
                "at most 8 input columns — project the "
                "candidate dimensions first"
            )
        nmc = len(dpcols)
        names_arr = F.array(*[F.lit(c) for c in dpcols])
        items = F.array(*[
            F.struct(F.lit(i).alias("ci"),
                     F.col(c).cast("string").alias("v"))
            for i, c in enumerate(dpcols)
        ])
        sub = (
            base.select(items.alias("__items"), "_split")
            .select(
                "__items", "_split",
                F.expr(
                    f"explode(filter(sequence(1, "
                    f"shiftleft(1, {nmc}) - 1), mk -> "
                    f"bit_count(mk) <= {max_size}))"
                ).alias("__mask"),
            )
            .select(
                "_split",
                F.expr(
                    "filter(__items, (x, i) -> "
                    "(shiftright(__mask, i) & 1) = 1)"
                ).alias("__set"),
            )
            .groupBy("__set")
            .agg(na.alias("count_a"), nb.alias("count_b"))
        )
        setc = F.col("__set")
        pat = F.array_join(
            F.transform(
                setc,
                lambda x: F.element_at(names_arr,
                                       x["ci"] + 1)),
            "&")
        val = F.when(
            F.size(setc) == 1, F.element_at(setc, 1)["v"]
        ).otherwise(F.array_join(
            F.transform(
                setc,
                lambda x: F.coalesce(x["v"],
                                     F.lit("~null~"))),
            "&"))
        return sub.select(
            pat.alias("pattern_column"),
            val.alias("value"),
            "count_a",
            "count_b",
            F.round(F.col("count_a") / F.lit(ta), 6)
            .alias("pct_a"),
            F.round(F.col("count_b") / F.lit(tb), 6)
            .alias("pct_b"),
            F.round(
                F.col("count_a") / F.lit(ta)
                - F.col("count_b") / F.lit(tb), 6
            ).alias("diff"),
        )
    legs = [
        _dp_leg(F.lit(c), F.col(c).cast("string"), [c])
        for c in df.columns
    ]
    if max_size == 2:
        dpcols = df.columns
        for i, c1 in enumerate(dpcols):
            for c2 in dpcols[i + 1:]:
                legs.append(_dp_leg(
                    F.lit(f"{c1}&{c2}"),
                    F.concat_ws(
                        "&",
                        _null_marked(c1), _null_marked(c2),
                    ),
                    [c1, c2],
                ))
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out


@_plugin("bag_unpack", 1, None)
def _ev_bag_unpack(df, args, bindings, **_):
    """`evaluate bag_unpack(expr [, "k1[:type]", …])` — expand a dynamic
    (VARIANT) property bag into columns. With an explicit key list this
    is ONE narrow projection (`try_variant_get` per key — the 100 TB
    shape). Without one, a key-discovery aggregation runs first
    (distinct json keys — same two-job cost profile as value-less pivot;
    keys sorted for determinism)."""
    src = args[0]
    bag = parse_expr_ke(src, bindings)
    is_var_col = (
        src in df.columns
        and df.schema[src].dataType.typeName() == "variant"
    )
    if not (bag.variant or is_var_col):
        raise KqlError(
            "bag_unpack needs a dynamic value — wrap the "
            "column in parse_json(...)"
        )
    if len(args) > 1:
        specs = []
        for p in args[1:]:
            s = _unquote(p)
            name, _, typ = s.partition(":")
            specs.append((name, typ or "string"))
    else:
        # implicit key inference: every distinct key becomes
        # a column, so the discovery is bounded — an
        # adversarial high-cardinality bag would otherwise
        # OOM the driver AND produce an absurd schema. A
        # clear error beats both; pass explicit keys (the
        # scale path) when a bag legitimately has many.
        max_keys = 1000
        keyrows = (
            df.select(F.explode(F.json_object_keys(
                F.to_json(bag.col))).alias("k"))
            .distinct().limit(max_keys + 1).collect()
        )
        if len(keyrows) > max_keys:
            raise KqlError(
                f"bag_unpack({src}) found more than "
                f"{max_keys} distinct keys — pass an "
                "explicit key list: bag_unpack(expr, "
                '"k1", "k2", …)'
            )
        specs = sorted((r.k, "string") for r in keyrows)
    clash = [n for n, _ in specs if n in df.columns]
    if clash:
        raise KqlError(
            f"bag_unpack key(s) {clash} collide with "
            "existing columns"
        )
    # a bare-column source disappears from the output
    # (Kusto bag_unpack contract)
    keep = [c for c in df.columns if c != src]
    return df.select(
        *keep,
        *[F.try_variant_get(bag.col, f"$.{n}", t).alias(n)
          for n, t in specs],
    )


@_plugin("pivot", 2, None)
def _ev_pivot(df, args, pe, **_):
    """`evaluate pivot(pivotCol, agg() [, v1, v2, …])` — the KQL pivot
    plugin: remaining columns become group keys, one output column per
    pivot value. With an explicit value list the plan is a single hash
    aggregation (the 100 TB shape); without one Spark first runs a
    distinct-values job on the pivot column (documented cost), then
    sorts the discovered values so column order is deterministic."""
    pcol, aggsrc = args.col(0), args[1]
    if not re.fullmatch(r"[A-Za-z_]\w*\s*\(.*\)", aggsrc, re.S):
        raise KqlError(f"pivot: {aggsrc!r} is not an aggregate call")
    vals = None
    if len(args) > 2:
        vals = [
            _unquote(v) if _STR_LIT_RE.fullmatch(v) else v
            for v in args[2:]
        ]
    # group keys = every column except the pivot column and the
    # aggregate's inputs (KQL pivot plugin contract). Only
    # tokens that are genuine COLUMN references may knock a
    # column out of the key set: strip string literals first
    # (a literal containing the word "count" must not drop a
    # `count` column) and skip tokens used as function names
    # (`count()` the aggregate vs `count` the column).
    no_lits = _STR_LIT_RE.sub(" ", aggsrc)
    agg_cols = {
        m.group(1)
        for m in re.finditer(r"([A-Za-z_]\w*)\s*(\()?", no_lits)
        if m.group(2) is None
    }
    keys = [
        c for c in df.columns if c != pcol and c not in agg_cols
    ]
    gb = df.groupBy(*keys)
    piv = gb.pivot(pcol, vals) if vals is not None else gb.pivot(pcol)
    return piv.agg(pe(aggsrc))



def _apply_stages(df: DataFrame, stages: list[str], bindings: dict,
                  tables: dict[str, DataFrame] | None = None) -> DataFrame:
    from otel_arrow_spark.operators import kql as ops

    # Serialization state (KQL: `sort by` output IS a serialized row
    # set; `serialize by k…` re-partitions the window). `order` holds
    # the sort Columns, `wspec` the Window spec window functions
    # compile against. Order-destroying stages reset both — the KQL
    # rule that summarize/join/… de-serialize the table.
    #
    # `pending_sort` makes the sort LAZY: a global orderBy placed
    # eagerly before a window stage costs a rangepartition Exchange +
    # full Sort whose order the window's own hash Exchange immediately
    # destroys (measured: two Exchanges instead of one on the serialize
    # path). The sort spec is recorded here and physically applied only
    # where order is actually consumed — `take`/`limit` (first-N
    # semantics) and the end of the pipeline (KQL's sorted-output
    # guarantee, now over the usually much smaller post-filter result).
    # Window functions never need the pre-sort: a Window spec sorts its
    # own partitions.
    sctx: dict = {"order": None, "wspec": None,
                  "pending_sort": None, "keys": None,
                  "order_src": None}

    def flush_sort() -> None:
        nonlocal df
        if sctx["pending_sort"] is not None:
            df = df.orderBy(*sctx["pending_sort"])
            sctx["pending_sort"] = None
    _ORDER_DESTROYING = {
        "summarize", "join", "lookup", "union", "distinct", "count",
        "sample", "sample-distinct", "mv-expand", "mv-apply",
        "make-series", "evaluate", "top-nested", "search", "reduce",
        "make-graph", "graph-match", "graph-to-table", "find",
        "graph-shortest-paths", "graph-mark-components",
    }

    # Materialized bag twins (KE.bag_map): column name → hidden-column
    # reference. Twins survive only row-level stages; anything that
    # reshapes the column set strips the hidden columns first.
    bag_twins: dict[str, Column] = {}
    _TWIN_PRESERVING = {
        "where", "take", "limit", "extend", "order", "sort", "top",
        "serialize",
        # project CONSUMES twins (accessors on a fused bag read the map
        # directly, letting Catalyst prune the serialized VARIANT twin
        # entirely); its select() then drops the hidden columns, so the
        # dict is cleared in the project branch rather than here.
        "project",
    }

    def drop_twins() -> None:
        nonlocal df
        if bag_twins:
            df = df.drop(*[_TWIN_PREFIX + n for n in bag_twins])
            bag_twins.clear()

    def pek(s: str) -> KE:
        vcols = {
            f.name for f in df.schema.fields
            if f.dataType.typeName() == "variant"
        }
        return parse_expr_ke(s, bindings, wspec=sctx["wspec"],
                             variant_cols=vcols, bag_twins=bag_twins)

    def pe(s: str) -> Column:
        return pek(s).col

    for stage in stages:
        m = re.match(r"^([a-z-]+)\s*(.*)$", stage, re.S)
        if not m:
            raise KqlError(f"bad stage {stage!r}")
        op, rest = m.group(1), m.group(2).strip()
        if op not in _TWIN_PRESERVING:
            drop_twins()
        # narrow() consumes the serialized order its own stage destroys
        wspec_before = sctx["wspec"]
        if op in _ORDER_DESTROYING:
            sctx["order"] = sctx["wspec"] = sctx["pending_sort"] = None
            sctx["keys"] = sctx["order_src"] = None
        if op == "where":
            df = df.filter(pe(rest))
        elif op == "extend":
            cols = {}
            stale: list[str] = []
            new_twins: list[str] = []
            for name, expr in _parse_assignments(rest):
                if name is None:
                    raise KqlError("extend needs name = expr")
                if re.fullmatch(r"pack_all\s*\(\s*\)", expr.strip()):
                    ke = None
                    cols[name] = _pack_all_col(df)
                elif (cie := _column_ifexists_col(df, expr, pe)) \
                        is not None:
                    ke = None
                    cols[name] = cie
                else:
                    ke = pek(expr)
                    cols[name] = ke.col
                if ke is not None and ke.bag_map is not None:
                    # fuse: keep the map twin as a hidden sibling so
                    # later bag surgery skips the JSON round-trip
                    cols[_TWIN_PREFIX + name] = ke.bag_map
                    new_twins.append(name)
                elif name in bag_twins:
                    stale.append(name)  # reassigned to a non-bag
            df = df.withColumns(cols)
            for name in stale:
                del bag_twins[name]
                df = df.drop(_TWIN_PREFIX + name)
            for name in new_twins:
                bag_twins[name] = F.col(_TWIN_PREFIX + name)
        elif op == "project":
            sel = []
            for name, expr in _parse_assignments(rest):
                if re.fullmatch(r"pack_all\s*\(\s*\)", expr.strip()):
                    c = _pack_all_col(df)
                else:
                    c = _column_ifexists_col(df, expr, pe)
                    if c is None:
                        c = pe(expr)
                sel.append(c.alias(name) if name else c)
            df = df.select(*sel)
            bag_twins.clear()  # select() already excluded the twins
        elif op == "project-keep":
            pats = [p.strip() for p in rest.split(",")]
            df = ops.project_keep(df, *pats)
        elif op == "project-away":
            pats = [p.strip() for p in rest.split(",")]
            df = ops.project_away(df, *pats)
        elif op == "project-reorder":
            pats = [p.strip() for p in rest.split(",")]
            df = ops.project_reorder(df, *pats)
        elif op == "project-rename":
            renames = {}
            for name, expr in _parse_assignments(rest):
                if name is None:
                    raise KqlError("project-rename needs new = old")
                renames[name] = expr.strip()
            df = ops.project_rename(df, **renames)
        elif op == "summarize":
            # `hint.shufflekey=k` (+`hint.num_partitions=N`) is
            # APPLIED: pre-partition the input on k so the aggregate
            # reuses that Exchange (Kusto's high-cardinality summarize
            # hint — the skew-spread shape). `hint.strategy=shuffle`
            # alone is accepted and dropped: Catalyst+AQE already
            # picks the shuffle strategy from the declared plan.
            mh = re.match(r"^(?:hint\.\w+\s*=\s*[\w.]+\s+)+", rest)
            if mh:
                shints = dict(re.findall(
                    r"hint\.(\w+)\s*=\s*([\w.]+)", mh.group(0)))
                rest = rest[mh.end():]
                if "shufflekey" in shints:
                    parts = ([int(shints["num_partitions"])]
                             if "num_partitions" in shints else [])
                    df = df.repartition(
                        *parts, F.col(shints["shufflekey"]))
            by_at = _find_by_top(rest)
            if by_at is not None:
                agg_part = rest[:by_at]
                by_items = _parse_assignments(rest[by_at + 2:])
            else:
                agg_part, by_items = rest, []
            keys = [
                (pe(e).alias(n) if n else pe(e))
                for n, e in by_items
            ]
            aggs = {}
            # (kind, rank expr, cols-or-None-for-*)
            star_rows: list[tuple[str, str, list[str] | None]] = []
            # internal array-agg column → per-element output names
            # (plural percentiles/percentilesw expansion, below)
            pctl_expand: list[tuple[str, list[str]]] = []
            for i, (name, expr) in enumerate(_parse_assignments(agg_part)):
                # plural `percentiles(x, p1, p2, …)` / `percentilesw(x,
                # w, p1, …)` — ONE exact array aggregate (the gated
                # percentiles_array machinery), expanded to Kusto's
                # auto-named columns (percentile_x_p, dots → _) after
                # the groupBy. Tuple assignment `(a, b) = percentiles(
                # x, 50, 95)` names them explicitly; a single-name
                # assignment is allowed only for a single percentile.
                mp = re.fullmatch(
                    r"(?:\(\s*([A-Za-z_]\w*(?:\s*,\s*[A-Za-z_]\w*)*)"
                    r"\s*\)\s*=\s*)?percentiles(w?)\s*\((.+)\)",
                    expr.strip(), re.S)
                if mp:
                    tuple_names, wtd, inner = mp.groups()
                    parts = [p.strip() for p in _split_top_level(inner, ",")]
                    nlead = 2 if wtd else 1
                    try:
                        ps = [float(p) for p in parts[nlead:]]
                    except ValueError:
                        raise KqlError(
                            "percentiles needs literal percentile "
                            f"values, got {parts[nlead:]!r}")
                    if not ps:
                        raise KqlError(
                            "percentiles needs at least one percentile")
                    arr = pe(("percentilesw_array(" if wtd
                              else "percentiles_array(")
                             + ", ".join(parts[:nlead])
                             + "".join(f", {p}" for p in ps) + ")")
                    if tuple_names:
                        outs = [t.strip()
                                for t in tuple_names.split(",")]
                        if len(outs) != len(ps):
                            raise KqlError(
                                f"percentiles tuple names {len(outs)} "
                                f"!= percentile count {len(ps)}")
                    elif name is not None:
                        if len(ps) != 1:
                            raise KqlError(
                                "a single name can only bind a single "
                                "percentile — use (n1, n2, …) = "
                                "percentiles(…)")
                        outs = [name]
                    else:
                        vsan = re.sub(
                            r"\W+", "_", parts[0]).strip("_")
                        outs = [
                            "percentile_" + vsan + "_"
                            + ("%g" % p).replace(".", "_")
                            .replace("-", "_")
                            for p in ps]
                    internal = f"__pctls_{i}"
                    aggs[internal] = arr
                    pctl_expand.append((internal, outs))
                    continue
                mstar = re.fullmatch(
                    r"arg_(max|min)\s*\((.+?),\s*(\*|[A-Za-z_]\w*"
                    r"(?:\s*,\s*[A-Za-z_]\w*)+)\s*\)", expr.strip(),
                    re.S)
                if mstar and (
                    mstar.group(3) == "*"
                    or all(c.strip() in df.columns
                           for c in mstar.group(3).split(","))
                ):
                    # `arg_max(rank, *)` / `arg_max(rank, c1, c2, …)` —
                    # the winning ROW's columns: one max_by/min_by over
                    # a struct (single map-side-combinable aggregate,
                    # no window/self-join), exploded back to columns
                    # after the groupBy. Ties break on the full row
                    # struct (deterministic; Kusto's pick is
                    # arbitrary). The 2-arg single-expression form
                    # stays in the plain aggregate map.
                    if name is not None:
                        raise KqlError(
                            f"arg_{mstar.group(1)}(expr, cols…) cannot "
                            "be renamed — it expands to the columns")
                    wanted = (
                        None if mstar.group(3) == "*"
                        else [c.strip()
                              for c in mstar.group(3).split(",")])
                    star_rows.append(
                        (mstar.group(1), mstar.group(2), wanted))
                    continue
                if re.fullmatch(r"take_any\s*\(\s*\*\s*\)",
                                expr.strip()):
                    # `take_any(*)` — any whole row per group; made
                    # deterministic (min over the row struct) so the
                    # result is engine- and partitioning-independent
                    if name is not None:
                        raise KqlError(
                            "take_any(*) cannot be renamed — it "
                            "expands to every column")
                    star_rows.append(("min", None, None))
                    continue
                c = pe(expr)
                aggs[name or f"agg_{i}"] = c
            if star_rows:
                if len(star_rows) > 1:
                    raise KqlError(
                        "only one arg_max/arg_min(expr, cols…) per "
                        "summarize")
                kind, rank_src, wanted = star_rows[0]
                key_names = {
                    (n or e.strip()) for n, e in by_items
                }
                row_cols = (
                    wanted if wanted is not None
                    else [c for c in df.columns if c not in key_names])
                # Kusto's output ALSO carries the ranked expression's
                # column (arg_max(E, c1) → E, c1; arg_max(strlen(s), *)
                # → strlen_s, *), aliased by its source text — include
                # it unless a listed/expanded or by-key column already
                # holds it.
                rank_out = None
                if rank_src is not None:
                    rname = rank_src.strip()
                    if rname not in row_cols and rname not in key_names:
                        rank_out = rname
                fields = [F.col(c).alias(c) for c in row_cols]
                if rank_out is not None:
                    fields.insert(0, pe(rank_src).alias("__rank_out"))
                rowstruct = F.struct(*fields)
                # Tie-break only on ORDERABLE columns — map / VARIANT
                # bag columns (common here) would fail analysis inside
                # a min()/max_by ordering struct; they still travel in
                # the returned payload struct.
                dtypes = {f.name: f.dataType for f in df.schema.fields}
                ord_cols = [F.col(c) for c in row_cols
                            if _orderable_type(dtypes[c])]
                fn = F.max_by if kind == "max" else F.min_by
                if rank_src is None:  # take_any(*): deterministic min
                    if ord_cols:
                        picked = F.min_by(
                            rowstruct, F.struct(*ord_cols)).alias("_row")
                    else:  # nothing orderable — any non-null row
                        picked = F.any_value(
                            rowstruct, True).alias("_row")
                else:
                    # rank first, orderable-row tie-break
                    picked = fn(
                        rowstruct, F.struct(pe(rank_src), *ord_cols)
                    ).alias("_row")
                df = df.groupBy(*keys).agg(
                    picked,
                    *[v.alias(k) for k, v in aggs.items()])
                out_cols = (
                    [F.col("_row.__rank_out").alias(rank_out)]
                    if rank_out is not None else [])
                out_cols += [
                    F.col(f"_row.{c}").alias(c) for c in row_cols]
                df = df.select(
                    *[c for c in df.columns if c != "_row"], *out_cols)
            else:
                if not aggs:
                    raise KqlError(
                        "summarize needs at least one aggregate "
                        "(e.g. `summarize n = count() by k`)"
                    )
                df = df.groupBy(*keys).agg(
                    *[v.alias(k) for k, v in aggs.items()]
                )
            if pctl_expand:
                # expand each internal percentile array in place, so
                # column order matches the declaration order
                expand = dict(pctl_expand)
                sel: list[Column] = []
                for c in df.columns:
                    if c in expand:
                        sel += [F.col(c)[j].alias(n)
                                for j, n in enumerate(expand[c])]
                    else:
                        sel.append(F.col(c))
                df = df.select(*sel)
        elif op in ("order", "sort"):
            rest = re.sub(r"^by\s+", "", rest)
            cols = []
            order_src: list[tuple[str, bool] | None] = []
            for part in _split_top_level(rest, ","):
                part = part.strip()
                # `… [asc|desc] [nulls first|nulls last]` — explicit
                # null placement; defaults match both KQL and Spark
                # (asc → nulls first, desc → nulls last)
                mnul = re.search(
                    r"\s+nulls\s+(first|last)$", part, re.I)
                nulls = None
                if mnul:
                    nulls = mnul.group(1).lower()
                    part = part[:mnul.start()].strip()
                toks = part.rsplit(None, 1)
                if len(toks) == 2 and toks[1].lower() in ("asc", "desc"):
                    expr_src, asc = toks[0], toks[1].lower() == "asc"
                else:
                    # KQL default sort order is descending (kql docs)
                    expr_src, asc = part, False
                c = pe(expr_src)
                if nulls == "first":
                    cols.append(
                        c.asc_nulls_first() if asc
                        else c.desc_nulls_first())
                elif nulls == "last":
                    cols.append(
                        c.asc_nulls_last() if asc
                        else c.desc_nulls_last())
                else:
                    cols.append(c.asc() if asc else c.desc())
                order_src.append(
                    (expr_src.strip(), asc)
                    if re.fullmatch(r"[A-Za-z_]\w*", expr_src.strip())
                    else None  # computed key: fine for windows, not scan
                )
            # LAZY: recorded, flushed where order is consumed (see
            # pending_sort above). sort output is serialized (KQL
            # semantics): window functions become legal, over a GLOBAL
            # ordered window until `serialize by k…` re-partitions it.
            sctx["pending_sort"] = cols
            sctx["order"] = cols
            sctx["order_src"] = order_src
            sctx["wspec"] = Window.orderBy(*cols)
        elif op == "serialize":
            # `serialize [by k1, k2…] [name = expr, …]`
            #
            # Standard KQL `serialize` freezes the *current* row order —
            # but a distributed table has no deterministic natural
            # order, so this engine requires a preceding `sort by` (the
            # honest deviation; an unsorted serialize would be
            # nondeterministic at any scale).
            #
            # `serialize by k…` is this engine's scale extension: the
            # window becomes partitionBy(k…).orderBy(sort keys) — one
            # parallel window per key group (the 100 TB shape; bare
            # `serialize` is a single ordered partition and belongs
            # only on small/aggregated relations).
            if sctx["order"] is None:
                raise KqlError(
                    "serialize requires a preceding `sort by` — a "
                    "distributed table has no natural row order"
                )
            m2 = re.match(r"^by\s+([^=]+?)\s*(?:$|(?=[A-Za-z_]\w*\s*=))",
                          rest, re.S)
            assigns_src = rest
            if m2:
                key_srcs = [k.strip() for k in
                            _split_top_level(m2.group(1), ",")]
                keys = [pe(k) for k in key_srcs]
                sctx["wspec"] = Window.partitionBy(*keys).orderBy(
                    *sctx["order"])
                sctx["keys"] = (
                    key_srcs
                    if all(re.fullmatch(r"[A-Za-z_]\w*", k)
                           for k in key_srcs)
                    else None
                )
                assigns_src = rest[m2.end():].strip()
            if assigns_src:
                cols = {}
                for name, expr in _parse_assignments(assigns_src):
                    if name is None:
                        raise KqlError("serialize needs name = expr")
                    cols[name] = pe(expr)
                df = df.withColumns(cols)
        elif op in ("take", "limit"):
            flush_sort()  # first-N consumes the pending order
            try:
                df = df.limit(int(rest))
            except ValueError:
                raise KqlError(f"take/limit needs an integer, got {rest!r}")
        elif op == "count":
            df = df.agg(F.count(F.lit(1)).alias("count_"))
        elif op == "consume":
            # Kusto `consume` evaluates the pipeline and returns an
            # empty result (a perf-harness sink). Declaratively that is
            # limit(0) over the same schema — Catalyst prunes the scan,
            # which is the right batch-engine reading (the cost side of
            # Kusto's consume is the interactive runtime's concern).
            # `decodeblocks=…` is accepted and ignored.
            if rest and not re.fullmatch(
                    r"decodeblocks\s*=\s*(true|false)", rest.strip()):
                raise KqlError(
                    "consume takes no arguments (or decodeblocks=…)")
            df = df.limit(0)
        elif op == "distinct":
            if rest == "*":
                df = df.distinct()
            else:
                df = df.select(
                    *[pe(e) for _n, e in _parse_assignments(rest)]
                ).distinct()
        elif op == "top":
            # `top N by expr [asc|desc][, tiebreak ...]` — sort+limit,
            # which Catalyst plans as TakeOrderedAndProject (per-
            # partition heaps, no global sort shuffle; plan-asserted in
            # tests).
            m2 = re.match(r"^(\d+)\s+by\s+(.+)$", rest, re.S)
            if not m2:
                raise KqlError("top needs `top N by expr [asc|desc]`")
            cols = []
            for part in _split_top_level(m2.group(2), ","):
                toks = part.rsplit(None, 1)
                if len(toks) == 2 and toks[1].lower() in ("asc", "desc"):
                    c = pe(toks[0])
                    cols.append(
                        c.asc() if toks[1].lower() == "asc" else c.desc()
                    )
                else:
                    # KQL top default order is descending
                    cols.append(pe(part).desc())
            df = df.orderBy(*cols).limit(int(m2.group(1)))
            # top's own order supersedes any earlier sort; its output
            # is serialized by that order (Kusto top contract)
            sctx["pending_sort"] = None
            sctx["order"] = cols
            sctx["wspec"] = Window.orderBy(*cols)
        elif op == "top-hitters":
            # `top-hitters N of c [by sumExpr]` — heavy hitters. Kusto
            # computes this approximately; this engine computes it
            # EXACTLY: a map-side-combinable hash aggregation on c
            # (state = one row per distinct c, the same bound a sketch
            # would amortize) followed by TakeOrderedAndProject — no
            # global sort. Output column names match Kusto
            # (approximate_count_/approximate_sum_) so queries port.
            m2 = re.match(
                r"^(\d+)\s+of\s+([A-Za-z_]\w*)(?:\s+by\s+(.+))?$",
                rest, re.S,
            )
            if not m2:
                raise KqlError(
                    "top-hitters needs `top-hitters N of col [by expr]`"
                )
            n, c, by = int(m2.group(1)), m2.group(2), m2.group(3)
            if by:
                out = "approximate_sum_" + re.sub(r"\W+", "_", by.strip())
                agg = F.sum(pe(by)).alias(out)
            else:
                out = f"approximate_count_{c}"
                agg = F.count(F.lit(1)).alias(out)
            df = (df.groupBy(c).agg(agg)
                    .orderBy(F.col(out).desc(), F.col(c).asc())
                    .limit(n))
            sctx["order"] = sctx["wspec"] = sctx["pending_sort"] = None
            sctx["keys"] = sctx["order_src"] = None
        elif op == "mv-expand":
            # `mv-expand name = expr` (or a bare array column) — one
            # element per output row; null/empty arrays yield no rows
            # (KQL default). One item per stage: multi-column KQL
            # mv-expand zips arrays, which sequential explodes would
            # silently turn into a cross product.
            mwi = re.match(
                r"^with_itemindex\s*=\s*([A-Za-z_]\w*)\s+(.+)$",
                rest, re.S)
            ixname = None
            if mwi:
                ixname, rest = mwi.groups()
            items = _parse_assignments(rest)
            if len(items) != 1:
                raise KqlError("mv-expand takes exactly one item per stage")
            name, expr = items[0]
            if name is None:
                name = expr.strip()
                if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
                    raise KqlError(
                        "mv-expand needs `name = expr` for non-column"
                        " expressions"
                    )
            if ixname is not None:
                # with_itemindex → posexplode (0-based element index)
                others = [c for c in df.columns if c != name]
                df = df.select(
                    *others,
                    F.posexplode(pe(expr)).alias(ixname, name))
            else:
                df = df.withColumn(name, F.explode(pe(expr)))
        elif op == "make-series":
            # `make-series name = agg() [default = d] on ts_col
            #  from datetime(…) to datetime(…) step <timespan> [by keys]`
            # → one row per key with a REGULAR series array (every bin
            # present, gaps filled with the default) + the matching
            # timestamp array. Two map-side-combinable aggregations
            # ((keys, bin) then keys); the dense grid materializes as a
            # per-row `transform(sequence(0,n-1), …)` over a bin→value
            # map — no grid join, no shuffle beyond the two aggs. n is
            # fixed at plan time from the literal from/to/step.
            m2 = re.match(
                r"^([A-Za-z_]\w*)\s*=\s*(.+?)"
                r"(?:\s+default\s*=\s*(\S+))?"
                r"\s+on\s+([A-Za-z_]\w*)"
                r"\s+from\s+datetime\(\s*['\"]?([^)'\"]+)['\"]?\s*\)"
                r"\s+to\s+datetime\(\s*['\"]?([^)'\"]+)['\"]?\s*\)"
                r"\s+step\s+([\d.]+(?:ms|d|h|m|s))"
                r"(?:\s+by\s+(.+))?$",
                rest, re.S,
            )
            if not m2:
                raise KqlError(
                    "make-series needs `name = agg() [default = d] on col"
                    " from datetime(..) to datetime(..) step <span>"
                    " [by keys]`"
                )
            (sname, aggsrc, dflt, oncol, f_s, t_s,
             stepsrc, bysrc) = m2.groups()
            from datetime import datetime as _dt

            start = _dt.fromisoformat(f_s.strip())
            end = _dt.fromisoformat(t_s.strip())
            mnum = re.match(r"[\d.]+", stepsrc)
            unit = stepsrc[mnum.end():]
            step_s = float(mnum.group()) * {
                "d": 86400, "h": 3600, "m": 60, "s": 1, "ms": 0.001
            }[unit]
            n_bins = int(-(-((end - start).total_seconds()) // step_s))
            if not 0 < n_bins <= 1_000_000:
                raise KqlError(f"make-series grid of {n_bins} bins")
            # parquet often yields TIMESTAMP_NTZ, which refuses a direct
            # double cast — normalize to session-tz timestamp first
            onc = F.col(oncol).cast("timestamp")
            startc = F.lit(f_s.strip()).cast("timestamp")
            keys = []
            if bysrc:
                keys = [
                    (pe(e).alias(nm) if nm else pe(e))
                    for nm, e in _parse_assignments(bysrc)
                ]
            key_names = [
                df.select(k).columns[0] for k in keys
            ]
            dflt_col = pe(dflt) if dflt is not None else F.lit(None)
            bin_idx = F.floor(
                (onc.cast("double") - startc.cast("double")) / step_s
            ).cast("int")
            seq = F.sequence(F.lit(0), F.lit(n_bins - 1))
            df = (
                df.filter((onc >= startc) & (bin_idx < n_bins)
                          & (bin_idx >= 0))
                .groupBy(*keys, bin_idx.alias("_msi"))
                .agg(pe(aggsrc).alias("_msv"))
                .groupBy(*key_names)
                .agg(
                    F.map_from_entries(
                        F.collect_list(F.struct("_msi", "_msv"))
                    ).alias("_msm")
                )
                .select(
                    *key_names,
                    F.transform(
                        seq,
                        lambda i: F.coalesce(
                            F.try_element_at(F.col("_msm"), i), dflt_col
                        ),
                    ).alias(sname),
                    F.transform(
                        seq,
                        lambda i: startc + F.make_dt_interval(
                            F.lit(0), F.lit(0), F.lit(0),
                            i.cast("double") * F.lit(step_s),
                        ),
                    ).alias(oncol),
                )
            )
        elif op in ("parse", "parse-where"):
            # `parse [kind=simple] expr with [*] "lit" name[:type] …` —
            # the KQL text-extraction operator (the reference's home
            # domain: one regex over the line, `parse.py`'s per-format
            # grok twin). Compiles the whole pattern to ONE anchored
            # regex; each field is a capture group read by
            # regexp_extract — narrow, codegen'd, no Python.
            # `parse-where` is the filtering flavor: rows whose source
            # does not match the pattern are DROPPED (parse keeps them
            # with empty/NULL extractions) — one extra rlike on the same
            # anchored regex, pushed before the extraction projections
            # so the scan filter prunes early.
            src, pattern, cols = _compile_parse(rest, pe)
            if op == "parse-where":
                df = df.filter(src.rlike(pattern))
            df = df.withColumns(cols)
        elif op == "parse-kv":
            # `parse-kv expr as (k1[:ty], k2…) with (pair_delimiter=',',
            # kv_delimiter='=')` — key=value extraction into declared
            # columns. One regexp_extract per declared key (codegen'd,
            # narrow; missing key → '' → NULL under a typed try_cast,
            # KQL's behavior). Single-character pair delimiter only: the
            # value is matched with a negated character class, which is
            # the form both Java regex and RE2 (DuckDB oracle) agree on
            # without lookahead.
            m2 = re.match(r"^(.+?)\s+as\s+\((.+?)\)\s*"
                          r"(?:with\s*\((.*?)\))?\s*$", rest, re.S)
            if not m2:
                raise KqlError(
                    "parse-kv needs `parse-kv expr as (keys) "
                    "[with (pair_delimiter=…, kv_delimiter=…)]`"
                )
            src = pe(m2.group(1))
            pd_, kd = ",", "="
            for nm, val in _parse_assignments(m2.group(3) or ""):
                if nm == "pair_delimiter":
                    pd_ = _unquote(val.strip())
                elif nm == "kv_delimiter":
                    kd = _unquote(val.strip())
                elif nm is not None:
                    raise KqlError(f"unknown parse-kv option {nm!r}")
            if len(pd_) != 1:
                raise KqlError("parse-kv pair_delimiter must be one char")
            cols = {}
            for item in _split_top_level(m2.group(2), ","):
                name, _, ty = item.strip().partition(":")
                name, ty = name.strip(), (ty.strip() or None)
                esc_pd = re.escape(pd_)
                kpat = (f"(?:^|{esc_pd})\\s*{re.escape(name)}"
                        f"\\s*{re.escape(kd)}\\s*([^{esc_pd}]*?)"
                        f"\\s*(?:{esc_pd}|$)")
                cols[name] = _typed_cast(
                    F.regexp_extract(src, kpat, 1), ty)
            if not cols:
                raise KqlError("parse-kv declares no keys")
            df = df.withColumns(cols)
        elif op == "fork":
            raise KqlError(
                "fork yields multiple result tables — use kql_fork()"
            )
        elif op == "join":
            # `join [kind=k] (source) on key[, $left.a == $right.b ...]`
            # Equi-join only (KQL likewise); bare keys merge into one
            # output column (KQL shows the key once), `$left/$right`
            # pairs keep both sides. Colliding non-key right columns are
            # renamed `name1`, the KQL dedup convention.
            # strategy hints are APPLIED, not just tolerated:
            # hint.strategy=broadcast pins a BroadcastHashJoin on the
            # parenthesized side (the dimension/enrich shape, above
            # AQE's size threshold too); =shuffle pins shuffle-hash;
            # hint.shufflekey=k (+hint.num_partitions=N) pre-partitions
            # both sides on k so the join reuses one Exchange. Hints
            # Catalyst can't honor for the join type are ignored, same
            # as Kusto treats them as optimizer suggestions. Only
            # header hints are consumed — a subquery's own hints
            # belong to the subquery.
            hints: dict[str, str] = {}

            def _eat_hints(s: str) -> str:
                mh = re.match(r"^(?:hint\.\w+\s*=\s*[\w.]+\s+)+", s)
                if not mh:
                    return s
                hints.update(re.findall(
                    r"hint\.(\w+)\s*=\s*([\w.]+)", mh.group(0)))
                return s[mh.end():]

            rest = _eat_hints(rest)
            mk = re.match(r"^kind\s*=\s*([a-z]+)\s+", rest)
            kind = mk.group(1) if mk else "innerunique"  # KQL default
            if mk:
                rest = _eat_hints(rest[mk.end():])
            m2 = re.match(
                r"^(\(.*\)|[A-Za-z_][A-Za-z0-9_]*)\s+on\s+(.+)$",
                rest, re.S,
            )
            if not m2:
                raise KqlError("join needs `join [kind=k] (source) on keys`")
            if kind not in _JOIN_KINDS:
                raise KqlError(f"unsupported join kind {kind!r}")
            right = _parse_source(m2.group(1), tables, bindings)
            strat = hints.get("strategy")
            if strat == "broadcast":
                right = right.hint("broadcast")
            elif strat == "shuffle":
                right = right.hint("shuffle_hash")
            sk = hints.get("shufflekey")
            if sk:
                parts = ([int(hints["num_partitions"])]
                         if "num_partitions" in hints else [])
                df = df.repartition(*parts, F.col(sk))
                right = right.repartition(*parts, F.col(sk))
            keys: list[str] = []
            pairs: list[tuple[str, str]] = []
            for item in _split_top_level(m2.group(2), ","):
                item = item.strip()
                mm = re.fullmatch(
                    r"\$left\.([A-Za-z_][A-Za-z0-9_]*)\s*==\s*"
                    r"\$right\.([A-Za-z_][A-Za-z0-9_]*)", item,
                )
                if mm:
                    pairs.append((mm.group(1), mm.group(2)))
                elif re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", item):
                    keys.append(item)
                else:
                    raise KqlError(f"bad join key {item!r}")
            if kind == "innerunique":
                # KQL default: left side deduplicated on the join keys
                # (first match wins — arbitrary within a key, like KQL).
                df = df.dropDuplicates(keys + [l for l, _ in pairs])
            if kind in ("rightanti", "rightsemi"):
                if pairs:
                    lal, ral = right.alias("_l"), df.alias("_r")
                    cond = None
                    for lk, rk in pairs + [(k, k) for k in keys]:
                        piece = F.col(f"_l.{rk}") == F.col(f"_r.{lk}")
                        cond = piece if cond is None else (cond & piece)
                    df = lal.join(ral, cond, _JOIN_KINDS[kind])
                else:
                    df = right.join(df, keys, _JOIN_KINDS[kind])
            elif pairs:
                keys_as_pairs = pairs + [(k, k) for k in keys]
                left_cols = set(df.columns)
                ren: dict[str, str] = {}
                for c in right.columns:
                    if c in left_cols:
                        right = right.withColumnRenamed(c, c + "1")
                        ren[c] = c + "1"
                lal, ral = df.alias("_l"), right.alias("_r")
                cond = None
                for lk, rk in keys_as_pairs:
                    piece = F.col(f"_l.{lk}") == F.col(f"_r.{ren.get(rk, rk)}")
                    cond = piece if cond is None else (cond & piece)
                df = lal.join(ral, cond, _JOIN_KINDS[kind])
            else:
                for c in right.columns:
                    if c in df.columns and c not in keys:
                        right = right.withColumnRenamed(c, c + "1")
                df = df.join(right, keys, _JOIN_KINDS[kind])
        elif op == "lookup":
            # `lookup [kind=leftouter|inner] (dim) on key[, …]` — KQL's
            # dimension-join: same surface as `join` but the right side
            # is a DIMENSION by contract, so it is broadcast explicitly
            # (BroadcastHashJoin regardless of AQE's size estimate —
            # the `enrich.py` pattern, lifted into the text lifecycle).
            # Bare equi-keys only (KQL lookup likewise).
            m2 = re.match(
                r"^(?:kind\s*=\s*(leftouter|inner)\s+)?"
                r"(\(.*\)|[A-Za-z_][A-Za-z0-9_]*)\s+on\s+(.+)$",
                rest, re.S,
            )
            if not m2:
                raise KqlError("lookup needs `lookup [kind=k] (dim) on keys`")
            kind = {"leftouter": "left", "inner": "inner",
                    None: "left"}[m2.group(1)]
            right = _parse_source(m2.group(2), tables, bindings)
            keys = []
            for item in _split_top_level(m2.group(3), ","):
                item = item.strip()
                if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", item):
                    raise KqlError(f"lookup key must be a column: {item!r}")
                keys.append(item)
            for c in right.columns:
                if c in df.columns and c not in keys:
                    right = right.withColumnRenamed(c, c + "1")
            df = df.join(F.broadcast(right), keys, kind)
        elif op == "union":
            # `union [withsource=Col] [kind=inner|outer] source[, …]` —
            # outer (the KQL default) aligns by name and null-fills
            # missing columns; inner keeps only the common columns.
            # `withsource=` labels every row with its origin: the
            # upstream relation is labeled `T` (its let-name is not
            # tracked through the pipe), each operand with its leading
            # table name (or `unionN` for literal/subquery sources).
            m2 = re.match(
                r"^(?:withsource\s*=\s*([A-Za-z_][A-Za-z0-9_]*)\s+)?"
                r"(?:kind\s*=\s*(inner|outer)\s+)?"
                r"(?:isfuzzy\s*=\s*(true|false)\s+)?(.+)$",
                rest, re.S,
            )
            if not m2:
                raise KqlError("union needs at least one source table")
            srccol, ukind = m2.group(1), m2.group(2) or "outer"
            fuzzy = m2.group(3) == "true"
            if srccol:
                df = df.withColumn(srccol, F.lit("T"))
            for i, item in enumerate(_split_top_level(m2.group(4), ",")):
                try:
                    other = _parse_source(item, tables, bindings)
                except KqlError:
                    if fuzzy:
                        # `isfuzzy=true`: unresolvable operands are
                        # skipped, not errors (Kusto's rule — the union
                        # of the sources that DO resolve)
                        continue
                    raise
                if srccol:
                    mname = re.match(r"\s*([A-Za-z_][A-Za-z0-9_]*)\s*$",
                                     item)
                    label = mname.group(1) if mname else f"union{i + 1}"
                    other = other.withColumn(srccol, F.lit(label))
                if ukind == "outer":
                    df = df.unionByName(other, allowMissingColumns=True)
                else:
                    common = [c for c in df.columns if c in other.columns]
                    df = df.select(*common).unionByName(
                        other.select(*common)
                    )
        elif op == "partition":
            # `partition [hint.strategy=…] by key ( stages )` — run the
            # subquery per key value and union the results. NOT executed
            # as per-key jobs (Kusto's legacy strategy caps at 64
            # partitions for exactly the reason we avoid it): each
            # subquery stage is REWRITTEN into a key-aware whole-table
            # plan — `top N by e` becomes a row_number window
            # partitioned by the key (one shuffle, per-partition heaps),
            # `summarize … by g` gains the key as a group column, and
            # row-local stages (where/extend/project*) pass through
            # unchanged. This is the shuffle-strategy semantics at any
            # key cardinality.
            m2 = re.match(
                r"^(?:hint\.\w+\s*=\s*\w+\s+)?by\s+([A-Za-z_]\w*)"
                r"\s*\((.+)\)\s*$",
                rest, re.S,
            )
            if not m2:
                raise KqlError("partition needs `by key ( stages )`")
            pkey, sub = m2.groups()
            _ROW_LOCAL = ("where", "extend", "project", "project-away",
                          "project-keep", "project-rename", "parse")
            for st in _split_top_level(sub, "|"):
                sm = re.match(r"^([a-z-]+)\s*(.*)$", st.strip(), re.S)
                if not sm:
                    raise KqlError(f"bad partition substage {st!r}")
                sop, srest = sm.group(1), sm.group(2).strip()
                if sop in _ROW_LOCAL:
                    df = _apply_stages(df, [st.strip()], bindings, tables)
                elif sop == "summarize":
                    joiner = (", " if _find_by_top(srest) is not None
                              else " by ")
                    df = _apply_stages(
                        df, ["summarize " + srest + joiner + pkey],
                        bindings, tables,
                    )
                elif sop in ("top", "take", "limit"):
                    if sop == "top":
                        tm = re.match(r"^(\d+)\s+by\s+(.+)$", srest, re.S)
                        if not tm:
                            raise KqlError("top needs `top N by expr`")
                        n = int(tm.group(1))
                        order = []
                        for part in _split_top_level(tm.group(2), ","):
                            toks = part.rsplit(None, 1)
                            if (len(toks) == 2
                                    and toks[1].lower() in ("asc", "desc")):
                                c = pe(toks[0])
                                order.append(
                                    c.asc() if toks[1].lower() == "asc"
                                    else c.desc()
                                )
                            else:
                                order.append(pe(part).desc())
                    else:
                        try:
                            n = int(srest)
                        except ValueError:
                            raise KqlError(
                                f"{sop} needs an integer, got {srest!r}"
                            )
                        # per-key take needs SOME deterministic order;
                        # require top instead
                        raise KqlError(
                            "partition: use `top N by expr` — a bare "
                            f"`{sop}` has no deterministic per-key order"
                        )
                    w = Window.partitionBy(pkey).orderBy(*order)
                    df = (
                        df.withColumn("__prn", F.row_number().over(w))
                        .filter(F.col("__prn") <= n)
                        .drop("__prn")
                    )
                else:
                    raise KqlError(
                        f"partition subquery does not support {sop!r}"
                    )
            sctx["order"] = sctx["wspec"] = sctx["pending_sort"] = None
            sctx["keys"] = sctx["order_src"] = None
        elif op == "scan":
            # `scan [with_match_id=col] with (step s1: pred; …)` —
            # KQL's sequential pattern-match operator, the one tabular
            # op that is genuinely NOT window-expressible (a row's state
            # depends on the whole prefix). Hybrid execution, the shape
            # the 100 TB brief prescribes for custom stateful operators:
            #
            #   1. step predicates compile to Catalyst boolean columns
            #      (JVM codegen — the Python side never parses values);
            #   2. ONE `applyInPandas` per `serialize by` key group runs
            #      the O(n) state machine over the precomputed bool
            #      matrix (Arrow-batched both ways).
            #
            # Requires `sort by <plain cols> | serialize by <plain keys>`
            # (the keys bound the state; without keys the scan is a
            # single serialized task — allowed, but only sensible on
            # small relations, same rule as bare `serialize`).
            #
            # Subset semantics (documented deviation from full Kusto
            # scan): a row advances the match if it satisfies the NEXT
            # step, else extends the CURRENT step, else is skipped; a
            # match completes at the first row reaching the final step;
            # matched rows of incomplete sequences are still emitted.
            # Output = matched rows + (match_id, step) + one column per
            # `declare`d state variable (its value AFTER the row's step
            # assignments ran). Per-step `output=all|last|none`
            # (default all) controls emission: `last` keeps only the
            # final row matched at that step (flushed when the match
            # advances, completes, or the group ends), `none` drops the
            # step's rows. Declared variables initialize at match
            # start, are assignable in step bodies (`step s: pred =>
            # x = x + v, …`), and may appear in predicates/assignments
            # by BARE name (simplification of Kusto's step-qualified
            # `s.x`; one live match candidate per group, so there is a
            # single unambiguous state).
            m2 = re.match(
                r"^(?:with_match_id\s*=\s*([A-Za-z_]\w*)\s+)?"
                r"(?:declare\s*\((.*?)\)\s*)?"
                r"with\s*\((.+)\)\s*$",
                rest, re.S,
            )
            if not m2:
                raise KqlError(
                    "scan needs `scan [with_match_id=c] "
                    "[declare (v: type [= lit], …)] with "
                    "(step s1: pred [=> v = expr, …]; …)`"
                )
            mid_col = m2.group(1) or "match_id"
            decl_src = m2.group(2)
            declares: list[tuple[str, str, object, object]] = []
            if decl_src and decl_src.strip():
                for item in _split_top_level(decl_src, ","):
                    dm = re.match(
                        r"^([A-Za-z_]\w*)\s*:\s*([A-Za-z]\w*)"
                        r"\s*(?:=\s*(.+))?$",
                        item.strip(), re.S,
                    )
                    if not dm or dm.group(2) not in _SCAN_DECL_TYPES:
                        raise KqlError(
                            f"bad scan declare item {item!r} (need "
                            "`name: long|real|string|bool [= literal]`)"
                        )
                    vname, vtype, vinit = dm.groups()
                    if vname in df.columns or vname == mid_col:
                        raise KqlError(
                            f"scan declare variable {vname!r} collides "
                            "with an input column"
                        )
                    init = None
                    if vinit is not None:
                        initfn, initcols, _us = _compile_scan_expr(
                            vinit, frozenset()
                        )
                        if initcols:
                            raise KqlError(
                                f"scan declare init for {vname!r} must "
                                "be a constant expression"
                            )
                        init = initfn({}, {})
                    spark_t, py_t = _SCAN_DECL_TYPES[vtype]
                    if init is not None:
                        init = py_t(init)
                    declares.append((vname, spark_t, py_t, init))
            declared_names = frozenset(d[0] for d in declares)

            steps = []       # (name, pred_src)
            step_assigns = []  # list[list[(var, fn, cols)]]
            step_modes = []    # per step: "all" (default) | "last" | "none"
            for st in _split_top_level(m2.group(3), ";"):
                sm = re.match(
                    r"^step\s+([A-Za-z_]\w*)\s*"
                    r"(?:output\s*=\s*(all|last|none)\s*)?"
                    r":\s*(.+)$",
                    st.strip(), re.S,
                )
                if not sm:
                    raise KqlError(f"bad scan step {st!r}")
                step_modes.append(sm.group(2) or "all")
                body = sm.group(3)
                arrow = _find_top(body, r"(?<![=!<>])=>")
                pred_src, assign_src = (
                    (body.strip(), None) if arrow is None
                    else (body[:arrow].strip(), body[arrow + 2:].strip()))
                assigns = []
                if assign_src is not None:
                    if not declares:
                        raise KqlError(
                            "scan step assignments need declare(...)"
                        )
                    for a in _split_top_level(assign_src, ","):
                        am = re.match(r"^([A-Za-z_]\w*)\s*=\s*(.+)$",
                                      a.strip(), re.S)
                        if not am or am.group(1) not in declared_names:
                            raise KqlError(
                                f"scan assignment {a!r} must set a "
                                "declared variable"
                            )
                        afn, acols, _us = _compile_scan_expr(
                            am.group(2), declared_names
                        )
                        assigns.append((am.group(1), afn, acols))
                steps.append((sm.group(1), pred_src))
                step_assigns.append(assigns)
            if not steps:
                raise KqlError("scan needs at least one step")
            osrc = sctx.get("order_src")
            if not osrc or any(o is None for o in osrc):
                raise KqlError(
                    "scan requires a preceding `sort by` on plain "
                    "columns"
                )
            keys = sctx.get("keys") or []
            base_cols = list(df.columns)
            # Hybrid predicate compilation: state-free predicates stay
            # Catalyst flag columns (JVM codegen); predicates touching
            # declared variables compile to (row, state) closures run
            # inside the machine. String literals are stripped before
            # the reference scan so a literal containing a variable's
            # name doesn't force the Python path.
            pred_fns: list = []   # per step: None (JVM flag) or closure
            pred_cols: set = set()
            for _nm, pred in steps:
                no_lits = _STR_LIT_RE.sub(" ", pred)
                if declared_names and any(
                    w in declared_names
                    for w in re.findall(r"[A-Za-z_]\w*", no_lits)
                ):
                    pfn, pcols, _us = _compile_scan_expr(
                        pred, declared_names
                    )
                    pred_fns.append(pfn)
                    pred_cols |= pcols
                else:
                    pred_fns.append(None)
            flags = df
            for i, (fn_, (_nm, pred)) in enumerate(zip(pred_fns, steps)):
                flags = flags.withColumn(
                    f"__scan{i}", F.lit(False) if fn_ else pe(pred)
                )
            from pyspark.sql.types import (
                BooleanType, DoubleType, LongType, StringType,
                StructField, StructType,
            )

            _decl_spark_t = {"long": LongType(), "double": DoubleType(),
                             "string": StringType(),
                             "boolean": BooleanType()}
            out_schema = StructType(
                [f for f in df.schema.fields]
                + [StructField(mid_col, LongType()),
                   StructField("step", StringType())]
                + [StructField(vn, _decl_spark_t[vt])
                   for vn, vt, _pt, _iv in declares]
            )
            names = [n for n, _a in osrc]
            asc = [a for _n, a in osrc]
            step_names = [nm for nm, _p in steps]
            nsteps = len(steps)
            var_names = [vn for vn, _t, _pt, _iv in declares]
            init_state = {vn: iv for vn, _t, _pt, iv in declares}
            coercers = {vn: pt for vn, _t, pt, _iv in declares}
            # columns the Python closures read (predicates + assigns)
            ref_cols = sorted(
                (pred_cols | {c for a in step_assigns
                              for _v, _f, cs in a for c in cs})
                & set(base_cols)
            )
            missing_refs = (
                pred_cols | {c for a in step_assigns
                             for _v, _f, cs in a for c in cs}
            ) - set(base_cols)
            if missing_refs:
                raise KqlError(
                    f"scan expression references unknown column(s) "
                    f"{sorted(missing_refs)}"
                )

            def _scan_group(pdf):
                import pandas as pd

                pdf = pdf.sort_values(names, ascending=asc,
                                      kind="stable")
                fl = pdf[[f"__scan{i}" for i in range(nsteps)]].fillna(
                    False).to_numpy(dtype=bool)
                recs = (
                    [
                        {k: (None if pd.isna(v) else v)
                         for k, v in rec.items()}
                        for rec in pdf[ref_cols].to_dict("records")
                    ]
                    if ref_cols else None
                )
                n = len(pdf)
                take, mid_out, step_out = [], [], []
                var_out: dict = {vn: [] for vn in var_names}
                s, mid, active = -1, 0, False
                st: dict = {}
                # `output=last` buffer: at most ONE pending row — only
                # the current step buffers, and advancing flushes it
                # before the advancing row emits, so input order holds.
                pending: list | None = None

                def test(j, i, state):
                    fn_ = pred_fns[j]
                    if fn_ is None:
                        return bool(fl[i, j])
                    row = recs[i] if recs is not None else {}
                    return fn_(row, state) is True

                def emit(i, m, sname, snap):
                    take.append(i)
                    mid_out.append(m)
                    step_out.append(sname)
                    for vn in var_names:
                        var_out[vn].append(snap.get(vn))

                def flush_pending():
                    nonlocal pending
                    if pending is not None:
                        emit(*pending)
                        pending = None

                for i in range(n):
                    if active and s + 1 < nsteps and test(s + 1, i, st):
                        flush_pending()  # leaving step s
                        s += 1
                    elif active and test(s, i, st):
                        pass
                    elif not active:
                        st0 = dict(init_state)
                        if test(0, i, st0):
                            mid += 1
                            s, active, st = 0, True, st0
                        else:
                            continue
                    else:
                        continue
                    row = recs[i] if recs is not None else {}
                    for vn, afn, _cs in step_assigns[s]:
                        v = afn(row, st)
                        st[vn] = None if v is None else coercers[vn](v)
                    mode = step_modes[s]
                    if mode == "all":
                        emit(i, mid, step_names[s], st)
                    elif mode == "last":
                        pending = [i, mid, step_names[s], dict(st)]
                    if s == nsteps - 1:
                        flush_pending()  # the completing row if 'last'
                        s, active, st = -1, False, {}
                flush_pending()  # incomplete match at group end
                out = pdf.iloc[take][base_cols].copy()
                out[mid_col] = pd.array(mid_out, dtype="int64")
                out["step"] = step_out
                for vn, _t, pt, _iv in declares:
                    if pt is int:
                        out[vn] = pd.array(var_out[vn], dtype="Int64")
                    elif pt is float:
                        out[vn] = pd.array(var_out[vn], dtype="Float64")
                    else:
                        out[vn] = pd.Series(
                            var_out[vn], index=out.index, dtype="object"
                        )
                return out

            if keys:
                df = flags.groupBy(*keys).applyInPandas(
                    _scan_group, out_schema)
            else:
                df = (
                    flags.withColumn("__g", F.lit(0))
                    .groupBy("__g")
                    .applyInPandas(
                        lambda pdf: _scan_group(pdf.drop(columns="__g")),
                        out_schema,
                    )
                )
            sctx["order"] = sctx["wspec"] = sctx["pending_sort"] = None
            sctx["keys"] = sctx["order_src"] = None
        elif op == "invoke":
            # `invoke f(args…)` — apply a table-valued user function to
            # the pipeline-so-far: the first table parameter binds to
            # the current relation, scalar arguments bind as constants,
            # and the body pipeline compiles INLINE into this plan (no
            # materialization boundary — Catalyst optimizes across the
            # call).
            m2 = re.match(r"^([A-Za-z_]\w*)\s*\((.*)\)\s*$", rest, re.S)
            if not m2:
                raise KqlError("invoke needs `invoke f(args…)`")
            fname, argsrc = m2.groups()
            fn = bindings.get(fname)
            if not isinstance(fn, KqlFunc):
                raise KqlError(f"{fname} is not a user function")
            tps = fn.table_params
            if not tps:
                raise KqlError(
                    f"{fname}() has no table parameter — use it as a "
                    "scalar function"
                )
            scalars = [p for p, k in fn.params if k == "scalar"]
            argsrcs = [a for a in _split_top_level(argsrc, ",") if a.strip()]
            if len(argsrcs) != len(scalars):
                raise KqlError(
                    f"invoke {fname}() takes {len(scalars)} scalar "
                    f"arg(s), got {len(argsrcs)}"
                )
            if fn.expanding:
                raise KqlError(f"recursive user function {fname}()")
            child_bind = dict(bindings)
            for pname, a in zip(scalars, argsrcs):
                child_bind[pname] = parse_expr_ke(a, bindings)
            child_tables = dict(tables) if tables else {}
            child_tables[tps[0]] = df
            fn.expanding = True
            try:
                df = _parse_source(fn.body, child_tables, child_bind)
            finally:
                fn.expanding = False
            sctx["order"] = sctx["wspec"] = sctx["pending_sort"] = None
            sctx["keys"] = sctx["order_src"] = None
        elif op == "facet":
            # `facet by c1, c2…` — Kusto returns one value-count table
            # PER column; a single-DataFrame engine returns the long
            # form instead: (facet_column, value, count_) stacked. Each
            # facet is its own map-side-combinable aggregation; the
            # stack is a zero-shuffle union. Values render as strings
            # so heterogeneous columns stack into one schema.
            rest2 = re.sub(r"^by\s+", "", rest)
            fcols = [c.strip() for c in _split_top_level(rest2, ",")]
            if not fcols or not all(
                re.fullmatch(r"[A-Za-z_]\w*", c) for c in fcols
            ):
                raise KqlError("facet needs `facet by col[, col…]`")
            missing = [c for c in fcols if c not in df.columns]
            if missing:
                raise KqlError(f"facet column(s) not found: {missing}")
            parts = [
                df.groupBy(F.col(c).cast("string").alias("value"))
                .agg(F.count(F.lit(1)).alias("count_"))
                .select(F.lit(c).alias("facet_column"), "value", "count_")
                for c in fcols
            ]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            df = out
            sctx["order"] = sctx["wspec"] = sctx["pending_sort"] = None
            sctx["keys"] = sctx["order_src"] = None
        elif op == "render":
            # `render timechart|barchart|…` — presentation-layer
            # directive; accepted and ignored (no server-side effect in
            # Kusto either), so dashboards' queries run unmodified.
            if not rest:
                raise KqlError("render needs a chart type")
        elif op == "as":
            # `as name` — bind the pipeline-so-far into the table
            # registry so a later `join`/`union`/`lookup` subquery can
            # reference it by name. Pure plan aliasing: the bound
            # relation is the lazy DataFrame (Catalyst reuses the
            # common subplan; nothing materializes here).
            m2 = re.match(r"^(?:hint\.materialized\s*=\s*\w+\s+)?"
                          r"([A-Za-z_]\w*)$", rest)
            if not m2:
                raise KqlError("as needs an identifier: `as name`")
            if tables is None:
                tables = {}
            tables[m2.group(1)] = df
        elif op == "getschema":
            # `getschema` — the table's schema as rows (driver-side
            # constant relation; never touches data).
            spark = df.sparkSession
            df = spark.createDataFrame(
                [(f.name, i, f.dataType.simpleString())
                 for i, f in enumerate(df.schema.fields)],
                "ColumnName string, ColumnOrdinal long, ColumnType string",
            )
            sctx["order"] = sctx["wspec"] = sctx["pending_sort"] = None
            sctx["keys"] = sctx["order_src"] = None
        elif op == "search":
            # `search "term"` — case-insensitive containment over EVERY
            # string column (KQL search over the current table). Compiles
            # to one OR of contains() predicates — codegen'd, pushable;
            # no UDF, no per-column passes.
            m2 = re.match(r"""^(['"])(.*)\1$""", rest.strip(), re.S)
            if not m2:
                raise KqlError('search needs a quoted term: search "x"')
            term = m2.group(2).lower()
            from pyspark.sql.types import StringType

            scols = [
                f.name for f in df.schema.fields
                if isinstance(f.dataType, StringType)
            ]
            if not scols:
                raise KqlError("search needs at least one string column")
            cond = None
            for c in scols:
                piece = F.lower(F.col(c)).contains(term)
                cond = piece if cond is None else (cond | piece)
            df = df.filter(cond)
        elif op == "evaluate":
            df = _evaluate(df, rest, pe=pe, bindings=bindings,
                           tables=tables, wspec=wspec_before)
        elif op == "mv-apply":
            # `mv-apply name = expr on (stage | …)` — per-record
            # subquery over an exploded array. Row identity is preserved
            # WITHOUT a self-join: the exploded relation keeps every
            # original column plus a per-row id, and each `summarize`
            # inside the subquery is rewritten to group by (original
            # columns, row id) — so "aggregate per record" is one hash
            # aggregation and the original row never has to be joined
            # back (a rejoin on a generated id is the classic
            # recomputation hazard). The id only disambiguates duplicate
            # input rows inside this single plan.
            m2 = re.match(
                r"^([A-Za-z_]\w*)\s*=\s*(.+?)\s+on\s*\((.+)\)\s*$",
                rest, re.S,
            )
            if not m2:
                raise KqlError("mv-apply needs `name = expr on (stages)`")
            name, arrsrc, sub = m2.groups()
            base_cols = list(df.columns)
            mv = df.withColumn(
                "_mvid", F.monotonically_increasing_id()
            ).withColumn(name, F.explode(pe(arrsrc)))
            substages = []
            for st in _split_top_level(sub, "|"):
                if re.match(r"^summarize\b", st.strip()):
                    joiner = (", " if _find_by_top(st) is not None
                              else " by ")
                    st = st + joiner + ", ".join(base_cols + ["_mvid"])
                substages.append(st)
            df = _apply_stages(mv, substages, bindings, tables)
            if "_mvid" in df.columns:
                df = df.drop("_mvid")
        elif op == "reduce":
            # `reduce by expr` — Kusto's log-pattern clustering: rows
            # whose string collapses to the same wildcard pattern group
            # together, output (Pattern, Count, Representative). The
            # pattern rule is a documented deterministic subset of
            # Kusto's similarity heuristic: hex runs (>= 4 chars) then
            # digit runs become `*`. Representative is the MIN source
            # string (Kusto picks an arbitrary member; min keeps the
            # result engine-portable). One map-side-combinable
            # aggregation — the 100 TB shape for template mining.
            m2 = re.match(r"^by\s+(.+)$", rest, re.S)
            if not m2:
                raise KqlError("reduce needs `by <expr>`")
            src_col = pe(m2.group(1).strip())
            pat = F.regexp_replace(
                F.regexp_replace(src_col, F.lit("[0-9a-f]{4,}"), F.lit("*")),
                F.lit("[0-9]+"), F.lit("*"),
            )
            df = (
                df.select(pat.alias("Pattern"), src_col.alias("_src"))
                .groupBy("Pattern")
                .agg(
                    F.count(F.lit(1)).alias("Count"),
                    F.min("_src").alias("Representative"),
                )
            )
        elif op == "sample":
            # `sample N` — KQL's row sample. Engine choice: order by a
            # 64-bit hash of the row content and keep N, which Catalyst
            # plans as TakeOrderedAndProject (per-partition heaps, no
            # global sort shuffle). The "sample" is therefore
            # deterministic across runs AND partitionings — the same
            # reproducibility role the content-derived ids play in
            # `signals.py` — while a hash is still uniform over the
            # data. Map-typed columns are excluded from the hash (Spark
            # hash functions reject MapType).
            try:
                n = int(rest)
            except ValueError:
                raise KqlError(f"sample needs an integer, got {rest!r}")
            from pyspark.sql.types import MapType

            hcols = [
                f.name for f in df.schema.fields
                if not isinstance(f.dataType, MapType)
            ]
            if not hcols:
                raise KqlError("sample needs at least one hashable column")
            df = df.orderBy(F.xxhash64(*hcols)).limit(n)
        elif op == "sample-distinct":
            # `sample-distinct N of expr` — N distinct values of expr,
            # hash-ordered for the same determinism as `sample`.
            m2 = re.match(r"^(\d+)\s+of\s+(.+)$", rest, re.S)
            if not m2:
                raise KqlError("sample-distinct needs `N of expr`")
            vals = df.select(pe(m2.group(2))).distinct()
            df = vals.orderBy(F.xxhash64(vals.columns[0])).limit(
                int(m2.group(1))
            )
        elif op == "top-nested":
            # `top-nested N of col by [name =] agg()[, top-nested ...]`
            # — hierarchical top-k: level 1 keeps the global top-N keys
            # by the aggregate; each deeper level keeps the per-parent
            # top-N. Scale shape: level 1 is agg + TakeOrderedAndProject
            # (no global sort); deeper levels aggregate the full input
            # once, broadcast-SEMI-join against the tiny kept parent set
            # (≤ ∏Nᵢ rows) BEFORE ranking, then rank inside each parent
            # with a window whose partitions are the kept parents only.
            # Ties break on the key value ascending so results are
            # deterministic (KQL leaves ties arbitrary).
            #
            # `with others = "Label"` per level adds one row per kept
            # parent combo aggregating everything OUTSIDE that level's
            # top-N (recomputed from the RAW rows — correct for any
            # aggregate, not just distributive ones — via anti-join
            # against the tiny kept key set). Documented subset: others
            # rows are terminal (deeper-level columns NULL, they do not
            # nest), and the level column must be string-typed so the
            # label shares its type.
            kept = None
            prev_cols: list[str] = []
            out_cols: list[str] = []
            others_parts: list[DataFrame] = []
            for lvl in re.split(r",\s*top-nested\s+", rest):
                m2 = re.match(
                    r"^(\d+)\s+of\s+([A-Za-z_]\w*)\s*"
                    r"(?:with\s+others\s*=\s*"
                    rf"({_STR_LIT})\s*)?"
                    r"\s+by\s+(?:([A-Za-z_]\w*)\s*=\s*)?(.+)$",
                    lvl.strip(), re.S,
                )
                if not m2:
                    raise KqlError(
                        "top-nested needs `N of col "
                        "[with others = \"label\"] by [name =] agg()`"
                    )
                n, col, others_src, aname, aggsrc = m2.groups()
                aname = aname or f"aggregated_{col}"
                grp = df.groupBy(*prev_cols, col).agg(pe(aggsrc).alias(aname))
                if kept is not None:
                    grp = grp.join(
                        F.broadcast(kept.select(*prev_cols)),
                        prev_cols, "semi",
                    )
                if prev_cols:
                    w = Window.partitionBy(*prev_cols).orderBy(
                        F.col(aname).desc(), F.col(col).asc()
                    )
                    grp = (
                        grp.withColumn("_tn_rank", F.row_number().over(w))
                        .filter(F.col("_tn_rank") <= int(n))
                        .drop("_tn_rank")
                    )
                else:
                    grp = grp.orderBy(
                        F.col(aname).desc(), F.col(col).asc()
                    ).limit(int(n))
                if others_src is not None:
                    if df.schema[col].dataType.typeName() != "string":
                        raise KqlError(
                            f"top-nested with others: column {col!r} "
                            "must be string-typed (the label shares "
                            "its type)"
                        )
                    label = _unquote(others_src)
                    src = df
                    if kept is not None:
                        src = src.join(
                            F.broadcast(kept.select(*prev_cols)),
                            prev_cols, "semi",
                        )
                    excl = src.join(
                        F.broadcast(grp.select(*prev_cols, col)),
                        prev_cols + [col], "anti",
                    )
                    oth = (
                        excl.groupBy(*prev_cols)
                        .agg(pe(aggsrc).alias(aname))
                        .withColumn(col, F.lit(label))
                    )
                    if kept is not None:
                        oth = oth.join(F.broadcast(kept), prev_cols,
                                       "inner")
                    others_parts.append(
                        oth.select(*out_cols, col, aname)
                    )
                if prev_cols:
                    grp = grp.join(F.broadcast(kept), prev_cols, "inner")
                kept = grp
                prev_cols = prev_cols + [col]
                out_cols += [col, aname]
            df = kept.select(*out_cols)
            for oth in others_parts:
                df = df.unionByName(oth, allowMissingColumns=True)
        elif op == "find":
            # `find in (T1, T2, …) where <pred> [project col, …]` —
            # cross-table search (Kusto findoperator): the predicate
            # runs against every listed table; tables where it cannot
            # compile (references a column the table lacks) are skipped,
            # Kusto's own rule. Output: `source_` + the projected
            # columns (absent ones NULL via unionByName), or the union
            # of all matching tables' columns without `project`. Each
            # leg is an independent filtered scan — predicate pushdown
            # per table, the union is plan-level (no shuffle).
            m2 = re.match(r"^in\s*\(([^)]+)\)\s*where\s+(.+)$",
                          rest, re.S)
            if not m2:
                raise KqlError(
                    "find needs `in (T1, T2, …) where pred "
                    "[project col, …]`")
            src_names = [n.strip() for n in
                         _split_top_level(m2.group(1), ",")]
            tail2 = m2.group(2)
            pidx = _find_kw_top(tail2, "project")
            pred_src = tail2[:pidx].strip() if pidx is not None \
                else tail2.strip()
            proj_names = (
                [c.strip() for c in
                 _split_top_level(tail2[pidx + len("project"):], ",")]
                if pidx is not None else None)
            parts: list[DataFrame] = []
            for name in src_names:
                if not tables or name not in tables:
                    raise KqlError(
                        f"find: unknown table {name!r} — pass it via "
                        "kql(..., tables={...})")
                tdf = tables[name]
                vcols = {
                    f.name for f in tdf.schema.fields
                    if f.dataType.typeName() == "variant"
                }
                try:
                    cond = parse_expr(pred_src, bindings,
                                      variant_cols=vcols)
                    part = tdf.filter(cond)
                    part.schema  # force analysis: missing col → skip
                except KqlError:
                    raise
                except Exception:
                    continue
                if proj_names is not None:
                    keep = [c for c in proj_names if c in tdf.columns]
                    part = part.select(*keep)
                part = part.select(
                    F.lit(name).alias("source_"), "*")
                parts.append(part)
            if not parts:
                raise KqlError(
                    "find: the predicate compiles against none of the "
                    "listed tables")
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p, allowMissingColumns=True)
            if proj_names is not None:
                df = df.select(
                    "source_",
                    *[c for c in proj_names if c in df.columns])
        elif op == "make-graph":
            # `make-graph src --> dst [with <nodes> on <id>]`
            # `make-graph src --> dst [with_node_id=<name>]`
            # Builds the graph value graph-match / graph-to-table
            # consume (Kusto make-graph-operator.md). Nodes absent →
            # implicit node set (edge endpoints), id column named by
            # with_node_id (default `node_id`).
            m2 = re.match(
                r"^([A-Za-z_]\w*)\s*-->\s*([A-Za-z_]\w*)\s*"
                r"(?:with\s+(.+?)\s+on\s+([A-Za-z_]\w*)"
                r"|with_node_id\s*=\s*([A-Za-z_]\w*))?\s*$",
                rest, re.S,
            )
            if not m2:
                raise KqlError(
                    "make-graph needs `srcCol --> dstCol "
                    "[with nodesSource on idCol | with_node_id=name]`"
                )
            srcc, dstc, nsrc, nid, anon_id = m2.groups()
            for c in (srcc, dstc):
                if c not in df.columns:
                    raise KqlError(f"make-graph: no column {c!r}")
            ndf = (_parse_source(nsrc, tables, bindings)
                   if nsrc is not None else None)
            sctx["graph"] = {
                "edges": df, "src": srcc, "dst": dstc,
                "nodes": ndf, "nid": nid or anon_id or "node_id",
            }
        elif op == "graph-mark-components":
            # `graph-mark-components [kind = weak]
            #  [with_component_id = name]` — label every node with its
            # weakly-connected component: the component id is the
            # MINIMUM node id reachable treating edges as undirected
            # (deterministic canonical label, Kusto's
            # graph-mark-components with kind=weak; kind=strong is
            # rejected, documented subset). Reuses the near-dup
            # min-label propagation (dataops/dedup.py
            # connected_components: one equi-join + one map-side min
            # per round, checkpointed frontier, converges in
            # O(diameter) rounds) — the right CC algorithm at scale.
            # NULL endpoints are ignored. The marked node set replaces
            # the graph's nodes; export it with `graph-to-table nodes`.
            g = sctx.get("graph")
            if g is None:
                raise KqlError(
                    "graph-mark-components requires a preceding "
                    "make-graph")
            m2 = re.match(
                r"^(?:kind\s*=\s*(\w+)\s*)?"
                r"(?:with_component_id\s*=\s*([A-Za-z_]\w*)\s*)?$",
                rest)
            if not m2:
                raise KqlError(
                    "graph-mark-components takes [kind = weak] "
                    "[with_component_id = name]")
            kind, cname = m2.groups()
            if kind not in (None, "weak"):
                raise KqlError(
                    "graph-mark-components: only kind=weak is "
                    "supported (strong components are not)")
            cname = cname or "ComponentId"
            from otel_arrow_spark.dataops.dedup import (
                connected_components,
            )
            nid = g["nid"]
            pairs = g["edges"].select(
                F.col(g["src"]).alias("doc_a"),
                F.col(g["dst"]).alias("doc_b"),
            ).filter(
                F.col("doc_a").isNotNull()
                & F.col("doc_b").isNotNull())
            if g["nodes"] is not None:
                nodes = g["nodes"]
            else:
                nodes = (
                    g["edges"].select(F.col(g["src"]).alias(nid))
                    .unionByName(
                        g["edges"].select(F.col(g["dst"]).alias(nid)))
                    .distinct()
                )
            uni = nodes.select(F.col(nid).alias("doc_id")) \
                .filter(F.col("doc_id").isNotNull()).distinct()
            labels = connected_components(pairs, uni)
            sctx["graph"] = dict(
                g,
                nodes=nodes.join(
                    labels.select(
                        F.col("doc_id").alias(nid),
                        F.col("cluster_id").alias(cname)),
                    nid, "left"),
            )
        elif op == "graph-to-table":
            g = sctx.get("graph")
            if g is None:
                raise KqlError(
                    "graph-to-table requires a preceding make-graph")
            which = rest.strip() or "edges"
            if which == "edges":
                df = g["edges"]
            elif which == "nodes":
                if g["nodes"] is not None:
                    df = g["nodes"]
                else:
                    # implicit node set: distinct edge endpoints
                    df = (
                        g["edges"].select(
                            F.col(g["src"]).alias(g["nid"]))
                        .unionByName(g["edges"].select(
                            F.col(g["dst"]).alias(g["nid"])))
                        .distinct()
                    )
            else:
                raise KqlError(
                    "graph-to-table takes `nodes` or `edges`")
            sctx["graph"] = None
        elif op == "graph-match":
            # `graph-match [cycles=all|none|unique_edges] (a)-[e]->(b)…
            #  [where <expr>] project [name =] expr, …`
            # Bounded-length patterns — each edge variable is one
            # prefixed copy of the edge relation, chained by equi-joins
            # on shared node variables; named node variables LEFT-join
            # node properties by id (nodes missing from the node table
            # still match, their non-id properties NULL — Kusto keeps
            # edge-endpoint nodes that carry no node row). `cycles=`:
            # `unique_edges` (the Kusto default) filters pairwise
            # identical edge ROWS (whole-row null-safe compare — a
            # multigraph with fully duplicate edge rows cannot be
            # distinguished without an id column, same as Kusto without
            # one); `none` makes all node variables pairwise distinct;
            # `all` adds nothing.
            g = sctx.get("graph")
            if g is None:
                raise KqlError(
                    "graph-match requires a preceding make-graph")
            mm = re.match(
                r"^(?:cycles\s*=\s*(all|none|unique_edges)\s+)?", rest)
            cycles = mm.group(1) or "unique_edges"
            npat, epat, pos = _parse_graph_pattern(rest, mm.end())
            tail = rest[pos:].strip()
            pidx = _find_kw_top(tail, "project")
            if pidx is None:
                raise KqlError("graph-match needs a `project` clause")
            head = tail[:pidx].strip()
            proj_src = tail[pidx + len("project"):].strip()
            where_src = None
            if head:
                if not re.match(r"^where\b", head):
                    raise KqlError(
                        f"graph-match: unexpected {head[:30]!r} between "
                        "pattern and project (only `where` is allowed)")
                where_src = head[5:].strip()
            df = _graph_match(g, npat, epat, cycles, where_src,
                              proj_src, bindings)
            sctx["graph"] = None
        elif op == "graph-shortest-paths":
            # `graph-shortest-paths [output=any|all] (a)-[e*1..k]->(b)
            #  [where <expr>] project …` — see _graph_shortest.
            g = sctx.get("graph")
            if g is None:
                raise KqlError(
                    "graph-shortest-paths requires a preceding "
                    "make-graph")
            mm = re.match(r"^(?:output\s*=\s*(any|all)\s+)?", rest)
            mode = mm.group(1) or "any"
            npat, epat, pos = _parse_graph_pattern(rest, mm.end())
            tail = rest[pos:].strip()
            pidx = _find_kw_top(tail, "project")
            if pidx is None:
                raise KqlError(
                    "graph-shortest-paths needs a `project` clause")
            head = tail[:pidx].strip()
            proj_src = tail[pidx + len("project"):].strip()
            where_src = None
            if head:
                if not re.match(r"^where\b", head):
                    raise KqlError(
                        f"graph-shortest-paths: unexpected "
                        f"{head[:30]!r} between pattern and project")
                where_src = head[5:].strip()
            # shortest-path semantics walk simple paths: repeated
            # nodes would let a longer expansion shadow a shorter one
            df = _graph_shortest(g, npat, epat, "none", where_src,
                                 proj_src, bindings, mode)
            sctx["graph"] = None
        else:
            raise KqlError(f"unknown operator {op!r}")
    flush_sort()  # KQL sorted-output guarantee, on the final relation
    drop_twins()  # hidden bag-twin columns never leave the query
    return df
