"""Seeded benchmark inputs, generated once per (rows, seed) and cached.

Generation runs before any timed window and before set-up, in a child
process (``python3 inputs.py KIND CACHE ROWS SEED``) so that it leaves
no trace in the benchmark process's peak memory. A cache entry is
written to a temporary directory and renamed into place, so a run that
dies half-way never leaves a partial input behind.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import uuid

import numpy as np


def _cached(path: str, build) -> str:
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp.{uuid.uuid4().hex}"
    try:
        build(tmp)
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return path


def transcripts(cache: str, rows: int, seed: int) -> str:
    """The pipeline fixture (transcripts + tool/role catalogs) as parquet."""
    from otel_arrow_spark.fixtures import write_fixture_tables

    return _cached(
        os.path.join(cache, f"transcripts-{rows}-{seed}"),
        lambda d: write_fixture_tables(d, rows, seed=seed),
    )


EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def events(cache: str, rows: int, seed: int) -> str:
    """An sf-style directory holding ``events.parquet``.

    Same schema and value ranges as the registry's ``events`` table:
    ``event_id`` 0..rows-1, ``ts`` rising over 30 days from 2024-01-01,
    150 users, five event types, a skewed positive ``value`` with two
    decimals and a ``{"k": n}`` JSON ``props``.
    """

    def build(d: str) -> None:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        span_us = 30 * 86_400 * 1_000_000
        offsets = np.sort(rng.integers(0, span_us, size=rows))
        pdf = pd.DataFrame({
            "event_id": np.arange(rows, dtype=np.int64),
            "ts": np.datetime64("2024-01-01T00:00:00", "us")
            + offsets.astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, size=rows).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), rows)],
            "value": np.maximum(np.round(rng.exponential(50.0, rows), 2), 0.01),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, rows)],
        })
        os.makedirs(d)
        pq.write_table(
            pa.Table.from_pandas(pdf, preserve_index=False),
            os.path.join(d, "events.parquet"),
        )

    return _cached(os.path.join(cache, f"events-{rows}-{seed}"), build)


KINDS = {"transcripts": transcripts, "events": events}


def generate(kind: str, cache: str, rows: int, seed: int) -> str:
    """The cached input's directory, generating it in a child process."""
    path = os.path.join(cache, f"{kind}-{rows}-{seed}")
    if not os.path.isdir(path):
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), kind, cache, str(rows), str(seed)],
            check=True,
        )
    return path


if __name__ == "__main__":
    kind, cache, rows, seed = sys.argv[1:]
    KINDS[kind](cache, int(rows), int(seed))
