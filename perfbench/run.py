"""Run one benchmark workload and print its metrics.

Usage (from the root of the repository):

    python3 perfbench/run.py --workload pipeline_batch --seed 1 --seconds 20 --trace 0

Load shape: one client in a closed loop. One driver process runs the
program on ``local[<cores>]`` and starts each timed unit only after the
previous one has finished. A run

1. generates its seeded inputs (cached per rows and seed) and their
   expected outputs, untimed;
2. starts the Spark session, registers the inputs (repeated, the median
   kept) and runs one untimed warm-up unit
   (``setup_s`` = session start + registration + warm-up);
3. runs timed units, at least three and for at least ``--seconds``, and
   checks the outputs of each after its timer stops;
4. with ``--trace 0``, reports the end-to-end metrics; with
   ``--trace 1``, runs one more unit traced and reports its per-layer
   split instead;
5. checks the last unit's written sink (pipeline workloads), prints a readable table, a
   context line and, as its last line, the JSON result.

``job_s`` is the fastest timed unit and ``request_p50_s`` the median,
over the unit's distinct requests, of each request's fastest repetition.
On a shared virtual machine the noise only ever slows a unit down (on a
4-vCPU VM the hypervisor took 4-21% of the CPU time during a run, see
``steal_share`` in the context line), so the fastest repetition is the
steadiest estimate of what the program costs: over ten seeds of
``pipeline_batch`` the fastest unit spread 0.18 (quartile distance over
median), the median of the same three units 0.31.

Everything the run writes (inputs, outputs, Spark scratch, trace spans)
goes under ``.perfbench/`` at the root of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPEATS = 3
MIN_UNITS = 3
T0 = time.perf_counter()


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric names and units, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def environment(cores: int) -> str:
    """Keep every file the run writes inside the repository and put the
    repository on the Python workers' path. Returns the Spark scratch
    directory."""
    scratch = os.path.join(WORK, "tmp", str(os.getpid()))
    os.makedirs(scratch, exist_ok=True)
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "TMPDIR": scratch,
        "SPARK_LOCAL_DIRS": scratch,
        "PYTHONPATH": os.pathsep.join(paths),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    sys.path[:0] = [ROOT, HERE]
    return scratch


def start_spark(scratch: str):
    from otel_arrow_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}",
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    })


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


START_TICKS = cpu_ticks()


def steal_share() -> float:
    """Share of the machine's CPU time stolen by the hypervisor since the
    run started (the eighth /proc/stat field); a noisy neighbour shows
    here."""
    d = [b - a for a, b in zip(START_TICKS, cpu_ticks())]
    return d[7] / sum(d) if sum(d) else 0.0


def phase(name: str) -> None:
    """Log the start of a phase of the run to standard error."""
    print(f"[perfbench {time.perf_counter() - T0:7.2f}s] {name}", file=sys.stderr, flush=True)


def vm_hwm_mb(pid) -> float:
    """High-water resident set size of process ``pid`` in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    return vm_hwm_mb("self") + vm_hwm_mb(jvm_pid)


class Ops:
    """Operations attempted and failed; an operation fails when it raises
    or any of its outputs differ from the oracle."""

    def __init__(self):
        self.attempted = self.failed = 0

    def record(self, n: int, errors: list[str]) -> None:
        self.attempted += n
        self.failed += min(n, len(errors))
        for e in errors:
            print(f"MISMATCH: {e}", file=sys.stderr)

    def run(self, fn, *args):
        """``fn(*args)``, counted as the operations it reports (one by
        default); None if it raised."""
        try:
            out = fn(*args)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            self.record(1, ["raised"])
            return None
        self.record(out.get("ops", 1), out["errors"])
        return out


def timed_units(w, spark, seconds: float, ops: Ops) -> list[dict]:
    samples = []
    t0 = time.perf_counter()
    while len(samples) < MIN_UNITS or time.perf_counter() - t0 < seconds:
        s = ops.run(w.unit, spark)
        if s is None:
            break
        samples.append(s)
    return samples


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in ("otel_arrow_spark/__init__.py", "__spark_entry__.py", "run_pipeline.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"error: the program is not in {ROOT}: missing {missing}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    scratch = environment(cores)

    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload](
        os.path.join(WORK, "out", str(os.getpid())), os.path.join(WORK, "inputs"), args.seed, cores)
    phase("prepare inputs and oracle")
    w.prepare()

    phase("start session")
    t0 = time.perf_counter()
    spark = start_spark(scratch)
    session_start_s = time.perf_counter() - t0
    try:
        return measure(args, w, spark, cores, session_start_s)
    finally:
        stop_spark(spark)
        shutil.rmtree(w.work, ignore_errors=True)
        shutil.rmtree(scratch, ignore_errors=True)
        phase("stopped")


def measure(args, w, spark, cores: int, session_start_s: float) -> int:
    phase("register")
    registers = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        w.register(spark)
        registers.append(time.perf_counter() - t0)
    phase(f"register took {', '.join(f'{r:.2f}' for r in registers)} s; warm up")
    t0 = time.perf_counter()
    w.warm_up(spark)
    warm_up_s = time.perf_counter() - t0

    ops = Ops()
    phase("timed units")
    samples = timed_units(w, spark, args.seconds, ops)
    if not samples:
        print("error: no unit completed", file=sys.stderr)
        return 1
    times = [s["job_s"] for s in samples]
    phase(f"units took {', '.join(f'{t:.2f}' for t in times)} s")
    job_s = min(times)
    # Every unit makes the same requests in the same order.
    requests = [min(r) for r in zip(*(s["request_s"] for s in samples))]
    values = {
        "setup_s": session_start_s + statistics.median(registers) + warm_up_s,
        "job_s": job_s,
        "rows_per_s": w.rows / job_s,
        "request_p50_s": statistics.median(requests),
        "peak_rss_mb": peak_rss_mb(spark),
    }
    end_to_end, per_layer = metric_units()
    units = end_to_end
    if args.trace:
        phase("traced unit")
        values = traced(args, w, spark, ops, session_start_s, job_s)
        units = per_layer

    if hasattr(w, "final_check"):
        phase("final check")
        ops.record(1, w.final_check(spark))
    phase("done")
    import pyspark

    context = {
        "workload": w.name, "seed": args.seed, "cores": cores, "rows": w.rows,
        "spark": pyspark.__version__, "units": len(samples), "requests": len(requests),
        "trace": args.trace, "error_rate": ops.failed / ops.attempted,
        "unit_s": times, "steal_share": steal_share(),
    }
    for k, unit in units.items():
        print(f"{k:32s} {values.get(k, 0.0):16.6f} {unit}")
    print(f"{'error_rate':32s} {ops.failed / ops.attempted:16.6f} failed/attempted "
          f"({ops.failed}/{ops.attempted}, outputs {'correct' if ops.failed == 0 else 'WRONG'})")
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()},
    }))
    return 0


def traced(args, w, spark, ops: Ops, session_start_s: float, untraced_job_s: float) -> dict:
    """One traced unit split into layers; layers the workload does not
    run read 0."""
    from spans import Tracer

    tr = Tracer(spark)
    sample, layers = w.traced(spark, tr)
    ops.record(sample.get("ops", 1), sample["errors"])
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tr.dump(os.path.join(WORK, "traces", f"{w.name}-{args.seed}.jsonl"))
    layers.update({
        "session.start_s": session_start_s,
        "trace.job_s": sample["job_s"],
        "trace.untraced_job_s": untraced_job_s,
        "trace.overhead_s": sample["job_s"] - untraced_job_s,
    })
    return layers


if __name__ == "__main__":
    sys.exit(main())
