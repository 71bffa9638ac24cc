"""Per-partition lineage, processed-offset checkpoints, idempotent resume.

The reference's reliability layer is Ack/Nack control flow plus a retry
processor with exponential backoff
(`rust/otap-dataflow/crates/engine/src/control.rs:68-240`,
`crates/otap/src/retry_processor.rs:44-110`). At cluster scale the analog is
job-level: the input is cut into deterministic **slices** (hash buckets of
``conv_id``), each slice's output is written with dynamic partition
overwrite (so a re-run *replaces* rather than duplicates — Ack), and a
lineage ledger records per-slice row counts + content checksums + status
(the MetricSet analog, `signal_type_router.rs:43-128`). Resume = skip
slices whose ledger row is 'ok'; failed/missing slices re-run idempotently.

The ledger is driver-side JSONL with atomic rename — the stand-in for an
Iceberg snapshot/manifest log.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SLICE_COL = "slice_id"
LEDGER = "_lineage.jsonl"


def with_slice(df: DataFrame, n_slices: int) -> DataFrame:
    """Deterministic slice assignment: hash bucket of conv_id.

    Pure function of row content → identical placement across retries and
    cluster sizes (a requirement rand()/spark_partition_id() can't meet).
    """
    return df.withColumn(
        SLICE_COL, F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_slices)).cast("int")
    )


def with_lineage_cols(df: DataFrame, batch_id: str) -> DataFrame:
    """Attach physical-provenance columns to every routed row."""
    return df.withColumns(
        {
            "src_partition_id": F.spark_partition_id(),
            "batch_id": F.lit(batch_id),
        }
    )


def content_checksum(df: DataFrame) -> int:
    """Order-insensitive content checksum over the identity+payload columns.

    XOR of per-row xxhash64 — associative/commutative (and overflow-free
    under ANSI mode), so it is invariant to partitioning and row order (the
    rebuild's version of the reference's vPath-set equivalence,
    `go/pkg/otel/assert/equiv.go:99-150`).

    Test/assertion helper ONLY: it runs a dedicated action and collects
    the 1-row aggregate. The pipeline hot path computes the identical
    checksum for free on the write action via ``df.observe`` (see
    :class:`SliceRunner`) — use that form anywhere a big relation is
    already being materialized.
    """
    row = (
        df.select(
            F.xxhash64(F.col("conv_id"), F.col("turn_idx"), F.col("text")).alias("h")
        )
        .agg(F.expr("bit_xor(h)").alias("s"))
        .collect()[0]
    )
    return int(row["s"] or 0)


def retry_with_backoff(
    fn,
    max_retries: int = 3,
    initial_s: float = 1.0,
    multiplier: float = 2.0,
    max_interval_s: float = 30.0,
    max_elapsed_s: float = 120.0,
    sleep=time.sleep,
):
    """Driver-side retry with exponential backoff — the job-level analog
    of the reference's retry processor
    (`crates/otap/src/retry_processor.rs:44-110`):
    interval = min(max_interval, initial * multiplier^n), bounded by
    ``max_elapsed_s``. Wrap idempotent units (slice runs) only: the
    ledger + overwrite-by-partition sink makes a re-run an Ack-safe
    replace, never a duplicate.
    """
    start = time.time()
    attempt = 0
    while True:
        try:
            return fn()
        except Exception:
            attempt += 1
            elapsed = time.time() - start
            if attempt > max_retries or elapsed >= max_elapsed_s:
                raise
            interval = min(max_interval_s, initial_s * multiplier ** (attempt - 1))
            if elapsed + interval >= max_elapsed_s:
                raise
            sleep(interval)


class LineageLedger:
    """Append-only per-slice ledger with atomic rewrite."""

    def __init__(self, root: str):
        self.path = os.path.join(root, LEDGER)

    def load(self) -> list[dict]:
        if not os.path.exists(self.path):
            return []
        with open(self.path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def completed_slices(self, input_fingerprint: str) -> set[int]:
        return {
            e["slice_id"]
            for e in self.load()
            if e["status"] == "ok" and e["input_fingerprint"] == input_fingerprint
        }

    def append(self, entry: dict) -> None:
        entries = self.load()
        entries.append(entry)
        tmp = self.path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            for e in entries:
                f.write(json.dumps(e) + "\n")
        os.replace(tmp, self.path)


class CheckpointedPipeline:
    """Slice-at-a-time parse→enrich→route runner with idempotent resume.

    Each slice is an independent unit of work; ``fail_on_slice`` injects a
    failure for resume tests (the analog of the reference's always-Nack
    error exporter, `crates/otap/src/error_exporter.rs`).

    Scale shape: the input is **staged once**, partitioned by
    ``slice_id`` — the slice assignment is a *computed* column, so
    filtering the raw input per slice could never push down and each
    slice would re-scan everything (O(n_slices) read amplification).
    After staging, every slice run is a partition-pruned read of 1/n of
    the input. Per-slice counts and content checksum come from
    ``df.observe()`` inside the same write job — no post-write read-back
    of the sink.
    """

    def __init__(self, catalog, n_slices: int = 8, table: str = "routed"):
        self.catalog = catalog
        self.n_slices = n_slices
        self.table = table
        self.ledger = LineageLedger(catalog.root)

    def staged_table(self) -> str:
        return f"{self.table}__staged_input"

    def stage_input(self, transcripts: DataFrame, input_fingerprint: str) -> DataFrame:
        """Write the sliced input partitioned by slice_id (once per
        fingerprint); later per-slice reads partition-prune to 1/n of
        the data. Re-entrant: an already-staged identical input is
        reused (the marker records fingerprint + slice count)."""
        name = self.staged_table()
        marker = os.path.join(self.catalog.root, "_staged.json")
        meta = {"input_fingerprint": input_fingerprint, "n_slices": self.n_slices}
        if os.path.exists(marker) and self.catalog.exists(name):
            with open(marker) as f:
                if json.load(f) == meta:
                    return self.catalog.read(name)
        os.makedirs(self.catalog.root, exist_ok=True)
        self.catalog.write(
            with_slice(transcripts, self.n_slices), name,
            partition_by=[SLICE_COL],
        )
        tmp = marker + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, marker)
        return self.catalog.read(name)

    def run(
        self,
        transcripts: DataFrame,
        tool_catalog: DataFrame,
        role_catalog: DataFrame,
        input_fingerprint: str,
        batch_id: str | None = None,
        fail_on_slice: int | None = None,
    ) -> dict:
        from pyspark.sql import Observation

        from .enrich import enrich_turns
        from .parse import parse_turns
        from .router import observed_sink_counts, route_turns, sink_count_metrics

        batch_id = batch_id or uuid.uuid4().hex[:12]
        done = self.ledger.completed_slices(input_fingerprint)
        ran, skipped = [], sorted(done)
        pending = [s for s in range(self.n_slices) if s not in done]
        if not pending:
            return {"batch_id": batch_id, "ran": ran, "skipped": skipped}

        staged = self.stage_input(transcripts, input_fingerprint)
        for s in pending:
            t0 = time.time()
            # partition-pruned: reads only the slice's directory
            part = staged.filter(F.col(SLICE_COL) == s)
            routed = route_turns(enrich_turns(parse_turns(part), tool_catalog, role_catalog))
            routed = with_lineage_cols(routed, batch_id)
            if fail_on_slice == s:
                self.ledger.append(
                    {
                        "slice_id": s, "batch_id": batch_id, "status": "failed",
                        "input_fingerprint": input_fingerprint,
                        "error": "injected failure", "ts": time.time(),
                    }
                )
                raise RuntimeError(f"injected failure on slice {s}")
            # counts + checksum piggyback on the write job itself
            obs = Observation(f"slice-{batch_id}-{s}")
            observed = routed.observe(
                obs,
                F.count(F.lit(1)).alias("row_count"),
                *sink_count_metrics(),
                F.expr("bit_xor(xxhash64(conv_id, turn_idx, text))").alias("checksum"),
            )
            # dynamic partition overwrite: a retry REPLACES this slice's
            # output — never duplicates (exactly-once sink semantics).
            self.catalog.overwrite_partitions(observed, self.table, [SLICE_COL, "sink"])
            m = obs.get
            per_sink = observed_sink_counts(m)
            self.ledger.append(
                {
                    "slice_id": s,
                    "batch_id": batch_id,
                    "status": "ok",
                    "input_fingerprint": input_fingerprint,
                    "row_count": int(m["row_count"]),
                    "per_sink": per_sink,
                    "checksum": int(m["checksum"] or 0),
                    "elapsed_sec": time.time() - t0,
                    "ts": time.time(),
                }
            )
            ran.append(s)
        return {"batch_id": batch_id, "ran": ran, "skipped": skipped}
