"""Lineage / idempotent-resume tests (CheckpointedPipeline).

Reference analog: Ack/Nack + retry semantics
(`crates/otap-dataflow/crates/engine/src/control.rs:68-240`,
`crates/otap/src/retry_processor.rs:44-110`) — a re-run must replace,
never duplicate, and completed work must be skipped.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F


@pytest.fixture()
def out_root(tmp_path):
    return str(tmp_path / "out")


def _mk(spark, out_root, n_slices=4):
    from otel_arrow_spark.catalog import Catalog
    from otel_arrow_spark.lineage import CheckpointedPipeline

    return CheckpointedPipeline(Catalog(spark, out_root), n_slices=n_slices)


def test_resume_skips_completed_and_counts_match(
    spark, transcripts, catalogs, out_root
):
    tools, roles = catalogs
    runner = _mk(spark, out_root)

    with pytest.raises(RuntimeError):
        runner.run(transcripts, tools, roles, "fp-1", fail_on_slice=2)

    # resume: slices 0,1 skipped; 2,3 run
    state = _mk(spark, out_root).run(transcripts, tools, roles, "fp-1")
    assert state["skipped"] == [0, 1]
    assert state["ran"] == [2, 3]

    written = runner.catalog.read(runner.table)
    assert written.count() == transcripts.count()
    dups = (
        written.groupBy("conv_id", "turn_idx")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dups == 0

    # ledger row counts + checksums were observed in the write job and
    # must match a read-back of the sink (no duplicated/lost rows)
    from otel_arrow_spark.lineage import SLICE_COL, content_checksum

    ledger = runner.ledger.load()
    ok = {e["slice_id"]: e for e in ledger if e["status"] == "ok"}
    assert sorted(ok) == [0, 1, 2, 3]
    for s, e in ok.items():
        got = written.filter(F.col(SLICE_COL) == s)
        assert got.count() == e["row_count"]
        got_sum = got.agg(content_checksum().alias("s")).collect()[0]["s"]
        assert int(got_sum or 0) == e["checksum"]
    per_sink_total: dict[str, int] = {}
    for e in ok.values():
        for k, v in e["per_sink"].items():
            per_sink_total[k] = per_sink_total.get(k, 0) + v
    actual = {
        r["sink"]: r["n"]
        for r in written.groupBy("sink").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert per_sink_total == actual


def test_slice_rerun_is_partition_pruned(spark, transcripts, catalogs, out_root):
    """The scale guarantee: a slice re-run reads ~1/n_slices of the
    staged input via directory partition pruning — never a full scan
    with a post-scan filter on a computed column."""
    runner = _mk(spark, out_root, n_slices=4)
    staged = runner.stage_input(transcripts, "fp-prune")
    part = staged.filter(F.col("slice_id") == 3)
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "slice_id" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan
    # physically: the pruned scan reads only slice 3's files
    files = part.select(F.input_file_name()).distinct().collect()
    assert all("slice_id=3" in r[0] for r in files) and files


def test_stage_input_is_reused_for_same_fingerprint(
    spark, transcripts, catalogs, out_root
):
    runner = _mk(spark, out_root, n_slices=4)
    runner.stage_input(transcripts, "fp-x")
    p = runner.catalog.path(runner.staged_table())
    mtime = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _dn, fn in os.walk(p)
        for f in fn
    )
    runner.stage_input(transcripts, "fp-x")  # no rewrite
    mtime2 = max(
        os.path.getmtime(os.path.join(dp, f))
        for dp, _dn, fn in os.walk(p)
        for f in fn
    )
    assert mtime2 == mtime
    runner.stage_input(transcripts, "fp-y")  # fingerprint change → restage
    with open(os.path.join(out_root, "_staged.json")) as f:
        assert json.load(f)["input_fingerprint"] == "fp-y"
