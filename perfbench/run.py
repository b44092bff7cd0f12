"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload bm25_serve --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The session is Spark ``local[4]`` with
``SPARK_GRAFT_CPUS=4``; all scratch files (inputs, indexes, Spark local
dirs, temp files) live under ``.perfbench_work/`` in the checkout and are
removed at exit, except the DuckDB oracle cache, which depends only on
the generated corpus and the frozen oracle SQL. ``--trace 1`` starts the
session with the UI on (for its REST metrics), records spans around every
call into a layer, prints the per-layer metrics and writes the spans to
``.perfbench_work/spans-<workload>-<seed>.json``.

Exit codes: 0 all checks passed; 1 a check failed (the result line is
still printed); 2 the library or the workload could not run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
# local[4] pinned; PERFBENCH_CPUS=1 only for the 1-vs-4-core stage shares
CPUS = int(os.environ.get("PERFBENCH_CPUS", "4"))
DEADLINE_S = 170  # a gated run must end within 180 s
sys.path.insert(0, str(HERE))

import harness  # noqa: E402
import spec  # noqa: E402


class Context:
    """What a workload gets: the session, its seed and budget, and the
    recorders. ``span`` also counts the Spark jobs the call launched when
    tracing."""

    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 trace: bool, work: Path, session_s: float):
        from sparkstats import SparkWatch

        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.session_s = session_s
        self.tracer = harness.Tracer(trace)
        self.watch = SparkWatch(spark) if trace else None
        self.checks = harness.Checks()
        self.known_failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.e2e: dict[str, float] = {}

    @contextmanager
    def span(self, name: str, **attrs):
        with self.tracer.span(name, **attrs) as a:
            if self.watch is None:
                yield a
                return
            first = self.watch.next_job_id()
            try:
                yield a
            finally:
                a["job_first"] = first
                a["jobs"] = self.watch.next_job_id() - first

    def jobs(self, name: str) -> int:
        return int(self.tracer.attr_sum(name, "jobs"))

    def known_failure(self, what: str) -> None:
        """A failure the benchmark doc lists as a known defect: reported
        and counted in ``error_rate``, but not in ``failed``."""
        self.known_failures.append(what)


def _environment(work: Path, trace: bool) -> None:
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # Spark's Python workers import the library from the checkout root
    paths = [str(ROOT)] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_MASTER"] = f"local[{CPUS}]"
    os.environ["SPARK_UI"] = "true" if trace else "false"
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    tempfile.tempdir = None


def _start_spark(work: Path):
    from word_sketch_lucene_spark.session import get_spark

    return get_spark("perfbench", master=f"local[{CPUS}]",
                     shuffle_partitions=CPUS, extra_conf={
                         "spark.driver.extraJavaOptions":
                             f"-Djava.io.tmpdir={work / 'tmp'} "
                             "-XX:-UsePerfData",
                         "spark.sql.warehouse.dir": str(work / "warehouse"),
                     })


def _stop_spark(spark) -> None:
    """Stop the context and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM must not outlive us
            proc.kill()
            proc.wait()


def _metrics(ctx: Context) -> dict:
    m = harness.Metrics()
    if not ctx.trace:
        for name, (unit, _b, _bd) in spec.END_TO_END.items():
            m.put(name, ctx.e2e[name], unit)
        return m.values
    for name, unit in spec.layer_metrics(ctx.workload).items():
        m.put(name, ctx.layer.get(name, 0.0), unit)
    return m.values


def _finish_trace(ctx: Context, run_range) -> None:
    from sparkstats import JobRange

    r = JobRange(run_range, ctx.watch.next_job_id())
    tasks, failed = ctx.watch.tasks(r)
    ctx.layer["spark.jobs"] = r.jobs
    ctx.layer["spark.tasks"] = tasks
    ctx.layer["spark.failed_tasks"] = failed
    attempted = ctx.checks.attempted + len(ctx.known_failures)
    ctx.layer["error_rate"] = ((ctx.checks.failed + len(ctx.known_failures))
                               / attempted if attempted else 0.0)
    ctx.layer["known_defects"] = len(ctx.known_failures)
    ctx.layer["trace.spans"] = len(ctx.tracer.spans)
    # per-span recording cost, measured on empty spans, times spans kept
    n_spans = len(ctx.tracer.spans)
    probe = harness.Tracer(True)
    t = time.perf_counter()
    for _ in range(50):
        with probe.span("probe"):
            ctx.watch.next_job_id()
            ctx.watch.next_job_id()
    ctx.layer["trace.overhead_s"] = (time.perf_counter() - t) / 50 * n_spans
    ctx.layer["trace.op_p50_ms"] = ctx.e2e["op_p50_ms"]
    ctx.layer["trace.ops_per_s"] = ctx.e2e["ops_per_s"]
    ctx.tracer.dump(ctx.work.parent / f"spans-{ctx.workload}-{ctx.seed}.json")


def _exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(
        {**spec.WORKLOADS, **spec.EXTRA_WORKLOADS}))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    # a kill or an overrun still stops Spark and removes the work dir
    signal.signal(signal.SIGTERM, _exit_on_signal)
    if args.workload in spec.WORKLOADS:
        signal.signal(signal.SIGALRM, _exit_on_signal)
        signal.alarm(DEADLINE_S)

    if not (ROOT / "word_sketch_lucene_spark" / "__init__.py").exists():
        print("perfbench: run from the root of a checkout of the library",
              file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _environment(work, trace)

    import importlib

    burn_before = harness.cpu_burn_s()
    t0 = time.perf_counter()
    spark = _start_spark(work)
    session_s = time.perf_counter() - t0
    ctx = Context(spark, args.workload, args.seed, args.seconds, trace,
                  work, session_s)
    try:
        first_job = ctx.watch.next_job_id() if trace else 0
        mod = importlib.import_module(f"workloads.{args.workload}")
        mod.run(ctx)
        burn_s = (burn_before + harness.cpu_burn_s()) / 2
        if trace:
            _finish_trace(ctx, first_job)
            ctx.layer["sandbox.cpu_burn_s"] = burn_s
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for msg in ctx.checks.messages:
        print(f"CHECK FAILED: {msg}", file=sys.stderr)
    for msg in ctx.known_failures:
        print(f"known defect: {msg}")
    # the result line's keys are fixed, so these go on the lines above
    print(f"known_defects: {len(ctx.known_failures)}")
    print(f"cpu_burn_s: {burn_s:.6f}")
    result = {
        "correct": ctx.checks.failed == 0,
        "attempted": ctx.checks.attempted,
        "failed": ctx.checks.failed,
        "metrics": _metrics(ctx),
    }
    print(json.dumps(result))
    return 0 if ctx.checks.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
