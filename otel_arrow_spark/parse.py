"""Vectorized syslog/CEF/RFC5424 parse stage.

Re-expresses the reference's syslog_cef_receiver parser — format
auto-detection (`crates/otap/src/syslog_cef_receiver/parser/mod.rs:48-100`),
RFC5424 (`parser/rfc5424.rs`), RFC3164 (`parser/rfc3164.rs`), CEF
(`parser/cef.rs`), and priority→(facility,severity) split
(`parser/mod.rs:21-25`) — as declarative Spark expressions:

- One table (:data:`_FORMATS`) lists each format's name, anchored regex
  and field→capture-group map, in detection order (the reference's
  first-byte dispatch).
- Every output column is a ``when`` chain folded over that table:
  ``rlike`` guards + ``regexp_extract`` / ``regexp_extract_all`` +
  ``map_from_arrays`` — JVM-side inside whole-stage codegen, no Python
  in the hot path.

Malformed lines never error — they get ``format='malformed'`` and null
fields (chaos discipline: `go/pkg/otel/logs/validation_test.go:58-71`).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Anchored patterns, shared verbatim by the DuckDB oracle in tests
# (kept inside the RE2 ∩ Java-regex common subset).
V1_RE = r'^<(\d{1,3})>1 (\S+) (\S+) (\S+) (\S+) (\S+) \[kv@0 ([^\]]*)\] (.*)$'
V2_RE = r'^<(\d{1,3})>([A-Z][a-z]{2}) ([ 0-9]?\d) (\d{2}:\d{2}:\d{2}) (\S+) ([^:]+): (.*)$'
V3_RE = r'^CEF:0\|([^|]*)\|([^|]*)\|([^|]*)\|([^|]*)\|([^|]*)\|([^|]*)\|(.*)$'

PARSED_FIELDS = [
    "format", "facility", "severity", "host", "app", "event_name", "body", "attrs",
]


class _Format(NamedTuple):
    name: str
    pattern: str
    groups: dict[str, int]  # output field -> capture group in ``pattern``
    kv: tuple[str, str] | None = None  # (key regex, value regex) over group "kv"


# Detection order: the first pattern that matches names the format.
# ``pri`` is the syslog PRI (split into facility/severity); a format that
# maps ``severity`` directly carries no PRI.
_FORMATS = (
    _Format(
        "rfc5424", V1_RE,
        {"pri": 1, "host": 3, "app": 4, "event_name": 6, "kv": 7, "body": 8},
        kv=(r'(\w+)="', r'="([^"]*)"'),
    ),
    _Format("rfc3164", V2_RE, {"pri": 1, "host": 5, "app": 6, "body": 7}),
    # CEF groups: 1=vendor 2=product 3=ver 4=class 5=name 6=severity 7=extension;
    # the product stands in for the origin host.
    _Format(
        "cef", V3_RE,
        {"app": 1, "host": 2, "event_name": 5, "severity": 6, "kv": 7, "body": 7},
        kv=(r'(\w+)=', r'=([^ ]*)'),
    ),
)


def _chain(text: Column, branches) -> Column:
    """Fold ``(pattern, value)`` pairs into one ``when`` chain (null if none match)."""
    out = None
    for pattern, value in branches:
        cond = text.rlike(pattern)
        out = F.when(cond, value) if out is None else out.when(cond, value)
    return out


def detect_format(text: Column) -> Column:
    """Format auto-detect (`parser/mod.rs:48-100` analog)."""
    return _chain(
        text, [(f.pattern, F.lit(f.name)) for f in _FORMATS]
    ).otherwise(F.lit("malformed"))


def _field(text: Column, field: str, cast: str | None = None) -> Column:
    """``field`` from the first matching format that carries it."""
    branches = []
    for f in _FORMATS:
        if field in f.groups:
            value = F.regexp_extract(text, f.pattern, f.groups[field])
            branches.append((f.pattern, value.try_cast(cast) if cast else value))
    return _chain(text, branches)


def _kv_map(payload: Column, key_re: str, val_re: str) -> Column:
    keys = F.regexp_extract_all(payload, F.lit(key_re), F.lit(1))
    vals = F.regexp_extract_all(payload, F.lit(val_re), F.lit(1))
    return F.when(F.size(keys) == F.size(vals), F.map_from_arrays(keys, vals))


def parse_turns(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append parsed columns; pure narrow transformation (no shuffle).

    Output columns: format, facility:int, severity:int, host, app,
    event_name, body, attrs:map<string,string>. Original columns (incl. the
    byte-exact ``text``) pass through untouched.
    """
    t = F.col(text_col)
    pri = _field(t, "pri").try_cast("int")
    attrs = _chain(
        t,
        [
            (f.pattern, _kv_map(F.regexp_extract(t, f.pattern, f.groups["kv"]), *f.kv))
            for f in _FORMATS
            if f.kv
        ],
    )
    return df.withColumns(
        {
            "format": detect_format(t),
            # syslog PRI → facility*8 + severity (`parser/mod.rs:21-25`)
            "facility": (pri / 8).try_cast("int"),
            "severity": _field(t, "severity", "int").otherwise(pri % 8),
            "host": _field(t, "host"),
            "app": _field(t, "app"),
            "event_name": _field(t, "event_name"),
            "body": _field(t, "body"),
            "attrs": attrs,
        }
    )
