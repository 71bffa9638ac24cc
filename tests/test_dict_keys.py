"""Guardrail: no dict literal in the package repeats a constant key.

A repeated key silently keeps only the last value, so the first entry is
dead code that reads as live (a dispatch table with two ``"int"``
builders runs only the second)."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "otel_arrow_spark"


def test_no_repeated_dict_literal_keys():
    offenders = []
    for py in sorted(PKG.rglob("*.py")):
        tree = ast.parse(py.read_text(), filename=str(py))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Dict):
                continue
            seen: dict[object, int] = {}
            for key in node.keys:
                if not isinstance(key, ast.Constant):
                    continue  # ``**spread`` or a computed key
                if key.value in seen:
                    offenders.append(
                        f"{py.relative_to(PKG.parent)}:{key.lineno}: "
                        f"{key.value!r} repeats line {seen[key.value]}")
                else:
                    seen[key.value] = key.lineno
    assert not offenders, "\n".join(offenders)
