"""The benchmark's three workloads.

A workload prepares its seeded inputs and their expected outputs
(untimed), registers the inputs and warms the driver up with one unit
(the set-up), runs timed units whose outputs are each checked against an
oracle that does not use Spark, and in a traced unit splits its time
across the program's layers by timing calls into their public functions
from here.

Why these three:

- ``pipeline_batch``: the full north-star job, parse -> enrich -> route ->
  partitioned sink write -> three aggregates. Parse does most of its
  compute, so a parse, sink-write or aggregate change shows here.
- ``pipeline_resume``: ``run_pipeline.main`` in checkpointed mode, failed
  on one slice and resumed. It writes through the catalog differently
  (one staged-input write, then many small dynamic-partition
  overwrites) and adds the lineage ledger and the recount pipeline.
- ``kql_registry``: KQL queries of the registry over an events table.
  Query compilation weighs heavily and the transcript layers are not
  run, so it is the bypass workload for pipeline changes.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import statistics
import time

import inputs
from oracle import TranscriptOracle
from spans import dur, no_span

PIPELINE_ROWS = 125_000  # four input files of 31,250 turns: one scan task per core
PREFIX_REPEATS = 3
N_SLICES = 8
FAIL_SLICE = 5
EVENT_ROWS = 10_000
# Four registry queries that read only the events table: the scan state
# machine on Python workers, a series query whose compile is heavy, plural
# percentiles and reduce. The whole registry takes ~95 s a pass on four
# cores, more than one run may take.
KQL_QUERIES = (
    "kql_text_scan_declare", "kql_percentiles_plural", "kql_series_anomalies", "kql_reduce",
)
SINKS = ("sink_traces", "sink_metrics", "sink_logs", "sink_malformed")
TRANSCRIPT_TABLES = ("transcripts", "tool_catalog", "role_catalog")


def noop(df) -> None:
    """Execute every column of ``df`` and keep nothing."""
    df.write.format("noop").mode("overwrite").save()


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def spark_layers(tr, root: dict, job_s: float, cores: int) -> dict[str, float]:
    st = tr.stages(tr.within(root))
    return {
        "spark.executor_run_s": st["executor_run_s"],
        "spark.core_busy": st["executor_run_s"] / (cores * job_s),
        "spark.task_skew": st["task_skew"],
        "spark.shuffle_read_bytes": st["shuffle_read_bytes"],
        "spark.spill_bytes": st["spill_bytes"],
        "spark.jobs": st["jobs"],
    }


class _Transcripts:
    """Shared by the two pipeline workloads: the seeded transcript
    fixture, its oracle, and the pipeline's layer split."""

    rows = PIPELINE_ROWS

    def __init__(self, work: str, cache: str, seed: int, cores: int):
        self.work, self.cache, self.seed, self.cores = work, cache, seed, cores

    def prepare(self) -> None:
        self.fx = inputs.generate("transcripts", self.cache, PIPELINE_ROWS, self.seed)
        self.oracle = TranscriptOracle(self.fx)

    def paths(self) -> list[str]:
        return [os.path.join(self.fx, f"{t}.parquet") for t in TRANSCRIPT_TABLES]

    def tables(self, spark):
        return [spark.read.parquet(p) for p in self.paths()]

    def register(self, spark) -> None:
        self.tables(spark)

    def warm_up(self, spark) -> None:
        """One untimed unit, so that code generation, class loading and
        the JIT are done before the first timed one."""
        self.unit(spark)

    def final_check(self, spark) -> list[str]:
        """Per-sink counts and content checksums of the last unit's sink."""
        written = spark.read.parquet(os.path.join(self.out, "routed"))
        return self.oracle.check_sink(spark, written)

    def _prefixes(self, tr, spark, enrich: bool) -> dict:
        """Noop-executed cumulative prefixes of the pipeline (scan, + parse,
        + enrich, + route), each run ``PREFIX_REPEATS`` times in its own
        span; a layer's time is the median of its prefix minus the median
        of the prefix before."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from otel_arrow_spark.enrich import enrich_turns
        from otel_arrow_spark.parse import parse_turns
        from otel_arrow_spark.router import route_turns

        t, tools, roles = self.tables(spark)
        parsed = parse_turns(t)
        enriched = enrich_turns(parsed, tools, roles)
        miss = (F.col("tool").isNotNull() & F.col("tool_kind").isNull()) | F.col("role_group").isNull()
        names = ("scan", "parse", "enrich", "route", "pruned") if enrich else ("scan", "parse")
        spans = {k: [] for k in names}
        for _ in range(PREFIX_REPEATS):
            parse_obs, enrich_obs = Observation(), Observation()
            plans = {
                "scan": t,
                "parse": parsed.observe(
                    parse_obs, F.count(F.when(F.col("format") == "malformed", 1)).alias("malformed")),
                "enrich": enriched.observe(
                    enrich_obs, F.count(F.when(miss, 1)).alias("miss"), F.count(F.lit(1)).alias("n")),
                "route": route_turns(enriched),
                # bench.py's turns_per_sec plan: Catalyst prunes most of
                # the parse out of it.
                "pruned": route_turns(enriched).groupBy(
                    "sink", "tool_kind", F.date_trunc("hour", "ts")).count(),
            }
            for k in names:
                with tr.span(f"prefix.{k}") as s:
                    noop(plans[k])
                spans[k].append(s)
        med = {k: statistics.median(dur(s) for s in v) for k, v in spans.items()}
        layers = {
            "scan.s": med["scan"],
            "scan.tasks": tr.stages(spans["scan"][-1:])["tasks"],
            # Spark's own input-bytes counter reads ~20 KB for this scan
            # of 3.6 MB of parquet, so the size is taken from the files.
            "scan.input_bytes": tree_size(self.paths()[0])[0],
            "parse.s": med["parse"] - med["scan"],
            "parse.rows_malformed": parse_obs.get["malformed"],
        }
        if enrich:
            m = enrich_obs.get
            layers.update({
                "enrich.s": med["enrich"] - med["parse"],
                "enrich.miss_rows": m["miss"],
                "enrich.hit_ratio": 1 - m["miss"] / m["n"],
                "router.s": med["route"] - med["enrich"],
                "prefix.route_s": med["route"],
                "aggregate.pruned_plan_s": med["pruned"],
            })
        return layers

    def _targets(self):
        import otel_arrow_spark.catalog as catalog
        import otel_arrow_spark.lineage as lineage
        import otel_arrow_spark.pipeline as pipeline

        return [
            (pipeline, "parse_turns", "parse.parse_turns"),
            (pipeline, "enrich_turns", "enrich.enrich_turns"),
            (pipeline, "route_turns", "router.route_turns"),
            (pipeline, "build_pipeline", "pipeline.build_pipeline"),
            (catalog.Catalog, "write", "catalog.write"),
            (catalog.Catalog, "overwrite_partitions", "catalog.overwrite_partitions"),
            (lineage.CheckpointedPipeline, "stage_input", "lineage.stage_input"),
            (lineage.LineageLedger, "append", "lineage.append",
             lambda _self, entry: {"status": entry["status"]}),
        ]


class PipelineBatch(_Transcripts):
    name = "pipeline_batch"

    def unit(self, spark, span=no_span) -> dict:
        """``run_pipeline`` with the partitioned parquet sink write, then
        all three aggregates collected."""
        from otel_arrow_spark.catalog import Catalog
        from otel_arrow_spark.pipeline import run_pipeline

        self.out = fresh_dir(os.path.join(self.work, "batch_out"))
        t0 = time.perf_counter()
        with span("pipeline.run_pipeline"):
            r = run_pipeline(spark, *self.paths(), output_catalog=Catalog(spark, self.out))
        with span("aggregate"):
            aggs = [a.collect() for a in (r.sink_counts, r.counts_by_sink_tool_hour, r.counts_by_conv)]
        job_s = time.perf_counter() - t0
        self.sink_rows = {row["sink"]: row["n_rows"] for row in aggs[0]}
        return {"job_s": job_s, "request_s": [job_s],
                "errors": self.oracle.check_aggregates(*aggs)}

    def traced(self, spark, tr) -> tuple[dict, dict]:
        layers = self._prefixes(tr, spark, enrich=True)
        with tr.wrapped(self._targets()), tr.span("unit") as root:
            sample = self.unit(spark, tr.span)
        size, files = tree_size(os.path.join(self.out, "routed"))
        aggs = tr.within(root, "aggregate")
        layers.update({
            "catalog.write_s": tr.total(root, "catalog.write") - layers.pop("prefix.route_s"),
            "catalog.output_bytes": size,
            "catalog.files": files,
            "aggregate.s": sum(dur(s) for s in aggs),
            "aggregate.shuffle_write_bytes": tr.stages(aggs)["shuffle_write_bytes"],
            "pipeline.build_s": tr.total(root, "pipeline.build_pipeline"),
            **{f"router.rows.{k}": self.sink_rows.get(k, 0) for k in SINKS},
            **spark_layers(tr, root, sample["job_s"], self.cores),
        })
        # The checkpointed run is not a timed workload of its own (it
        # does not fit the benchmark's time budget), so its layers come
        # from one traced pipeline_resume unit here; the batch units
        # before it have warmed up most of its code.
        resume = PipelineResume(self.work, self.cache, self.seed, self.cores)
        resume.fx, resume.oracle = self.fx, self.oracle
        resume_sample, resume_layers = resume.traced_unit(spark, tr)
        layers.update({k: resume_layers[k] for k in RESUME_LAYERS})
        sample["errors"] += resume_sample["errors"]
        # The job's time not covered by the split: reading the input
        # schemas and whatever the tracing added.
        layers["trace.unaccounted_s"] = sample["job_s"] - sum(layers[k] for k in (
            "scan.s", "parse.s", "enrich.s", "router.s", "catalog.write_s",
            "aggregate.s", "pipeline.build_s"))
        return sample, layers


RESUME_LAYERS = (
    "catalog.overwrite_s", "lineage.stage_input_s", "lineage.slice_s",
    "lineage.ledger_append_s", "lineage.slices_ran", "lineage.slices_skipped",
    "run_pipeline.recount_s", "run_pipeline.resume_s",
)


class PipelineResume(_Transcripts):
    name = "pipeline_resume"

    def unit(self, spark, span=no_span) -> dict:
        """``run_pipeline.main`` checkpointed, failing on one slice, then
        the same call with ``--resume``."""
        import run_pipeline

        from otel_arrow_spark.lineage import LineageLedger

        self.out = fresh_dir(os.path.join(self.work, "resume_out"))
        argv = ["--input", self.fx, "--output", self.out, "--n-slices", str(N_SLICES)]
        printed = io.StringIO()
        errors = []
        t0 = time.perf_counter()
        with contextlib.redirect_stdout(printed):
            try:
                with span("run_pipeline.main", call="fail"):
                    run_pipeline.main(argv + ["--fail-on-slice", str(FAIL_SLICE)])
                errors.append("the run with --fail-on-slice did not fail")
            except RuntimeError as e:
                if str(e) != f"injected failure on slice {FAIL_SLICE}":
                    raise
            t1 = time.perf_counter()
            with span("run_pipeline.main", call="resume"):
                rc = run_pipeline.main(argv + ["--resume"])
        t2 = time.perf_counter()

        report = json.loads(printed.getvalue().splitlines()[-1])
        self.report = report
        want = self.oracle.sink_counts
        if rc != 0:
            errors.append(f"--resume exited {rc}")
        if report["slices_ran"] != list(range(FAIL_SLICE, N_SLICES)):
            errors.append(f"resume ran slices {report['slices_ran']}")
        if report["slices_skipped"] != list(range(FAIL_SLICE)):
            errors.append(f"resume skipped slices {report['slices_skipped']}")
        if report["sink_counts"] != want:
            errors.append(f"recount {report['sink_counts']} != oracle {want}")
        ok = [e for e in LineageLedger(self.out).load() if e["status"] == "ok"]
        ledger = {}
        for e in ok:
            for k, n in e["per_sink"].items():
                ledger[k] = ledger.get(k, 0) + n
        if sorted(e["slice_id"] for e in ok) != list(range(N_SLICES)):
            errors.append(f"ledger ok slices {sorted(e['slice_id'] for e in ok)}")
        if ledger != want:
            errors.append(f"ledger per_sink {ledger} != oracle {want}")
        return {"job_s": t2 - t0, "request_s": [t2 - t1], "errors": errors}

    def traced(self, spark, tr) -> tuple[dict, dict]:
        layers = self._prefixes(tr, spark, enrich=False)
        sample, unit_layers = self.traced_unit(spark, tr)
        return sample, {**layers, **unit_layers}

    def traced_unit(self, spark, tr) -> tuple[dict, dict]:
        with tr.wrapped(self._targets()), tr.span("unit") as root:
            sample = self.unit(spark, tr.span)
        resume = next(s for s in tr.within(root, "run_pipeline.main") if s["call"] == "resume")
        recount_from = tr.within(resume, "pipeline.build_pipeline")[0]["start"]
        overwrites = tr.within(root, "catalog.overwrite_partitions")
        appends = [s for s in tr.within(root, "lineage.append") if s["status"] == "ok"]
        size, files = tree_size(os.path.join(self.out, "routed"))
        layers = {
            "catalog.write_s": tr.total(root, "catalog.write"),
            "catalog.overwrite_s": sum(dur(s) for s in overwrites),
            "catalog.output_bytes": size,
            "catalog.files": files,
            "lineage.stage_input_s": tr.total(root, "lineage.stage_input"),
            "lineage.slice_s": statistics.median(
                dur(o) + dur(a) for o, a in zip(overwrites, appends)),
            "lineage.ledger_append_s": tr.total(root, "lineage.append"),
            "lineage.slices_ran": len(self.report["slices_ran"]),
            "lineage.slices_skipped": len(self.report["slices_skipped"]),
            "pipeline.build_s": tr.total(root, "pipeline.build_pipeline"),
            "run_pipeline.recount_s": resume["end"] - recount_from,
            "run_pipeline.resume_s": dur(resume),
            **{f"router.rows.{k}": self.report["sink_counts"].get(k, 0) for k in SINKS},
            **spark_layers(tr, root, sample["job_s"], self.cores),
        }
        return sample, layers


class KqlRegistry:
    name = "kql_registry"
    rows = EVENT_ROWS * len(KQL_QUERIES)  # event rows scanned per pass

    def __init__(self, work: str, cache: str, seed: int, cores: int):
        self.work, self.cache, self.seed, self.cores = work, cache, seed, cores

    def prepare(self) -> None:
        import duckdb

        import __spark_entry__ as entry

        self.sf = inputs.generate("events", self.cache, EVENT_ROWS, self.seed)
        registry, oracle_sql = entry.queries(), entry.oracle_sql()
        self.queries = {n: registry[n] for n in KQL_QUERIES}
        con = duckdb.connect()
        try:
            con.execute("CREATE VIEW events AS SELECT * FROM "
                        f"read_parquet('{self.sf}/events.parquet')")
            self.expected = {n: con.execute(oracle_sql[n]).df() for n in KQL_QUERIES}
        finally:
            con.close()

    def register(self, spark) -> None:
        spark.read.parquet(f"{self.sf}/events.parquet")

    def warm_up(self, spark) -> None:
        self.unit(spark)

    def _release(self, spark) -> None:
        from otel_arrow_spark.dataops.dedup import release_caches

        release_caches()
        spark.catalog.clearCache()

    def unit(self, spark, span=no_span) -> dict:
        """One pass: each query built, planned and executed (its rows
        collected), then checked against its DuckDB oracle."""
        from tools.check_entry import compare

        request_s, errors = [], []
        t0 = time.perf_counter()
        for name, fn in self.queries.items():
            a = time.perf_counter()
            with span("kql.build", query=name):
                df = fn(spark, self.sf)
            with span("kql.plan", query=name):
                df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            with span("kql.exec", query=name):
                got = df.toPandas()
            request_s.append(time.perf_counter() - a)
            self._release(spark)
            mismatches = compare(name, got, self.expected[name])
            if mismatches:
                errors.append(f"{name}: {'; '.join(mismatches)}")
        return {"job_s": time.perf_counter() - t0, "request_s": request_s,
                "ops": len(self.queries), "errors": errors}

    def traced(self, spark, tr) -> tuple[dict, dict]:
        import otel_arrow_spark.operators.kql_parser as kql_parser

        with tr.wrapped([(kql_parser, "kql", "kql_parser.kql")]), tr.span("unit") as root:
            sample = self.unit(spark, tr.span)
        builds = tr.within(root, "kql.build")
        layers = {
            "kql_parser.build_s": tr.total(root, "kql.build"),
            "kql_parser.plan_s": tr.total(root, "kql.plan"),
            "kql_parser.exec_s": tr.total(root, "kql.exec"),
            "kql_parser.eager_jobs": tr.stages(
                [s for b in builds for s in tr.within(b)])["jobs"],
            **spark_layers(tr, root, sample["job_s"], self.cores),
        }
        return sample, layers


WORKLOADS = {w.name: w for w in (PipelineBatch, PipelineResume, KqlRegistry)}
