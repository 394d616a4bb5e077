"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Builds its inputs from ``--seed``, sets up
a Spark session at ``local[nproc]``, runs the workload's measured
steps, checks every operation's output, prints a
human-readable report and, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``.  A run measures
a fixed number of steps for a given ``--seconds`` (``--seconds`` over the
workload's expected step time), so every commit measures the same steps
on the same state.

``--trace 0`` reports the end-to-end metrics.  ``--trace 1`` runs with
Spark's event log on, runs each step of the workload's fixed sequence
twice, without and with spans, and reports the per-layer metrics.

Everything the run writes goes under ``.perfbench_work/`` in the
repository root; the per-run directory is removed at exit, the traced
run's spans and layer metrics are kept as ``trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Steps a measured window runs at least: the median then skips the
#: first step, which still carries JIT work.
MIN_STEPS = 3
#: Driver heap for the benchmark's session, below the package's own 8 GB
#: default (``session.get_spark`` reads it from ``SPARK_DRIVER_MEMORY``).
#: The inputs fit in it many times over; at 8 GB the JVM's resident size
#: followed its heap-growth decisions, and ``peak_rss_mb`` spread over
#: 4.3-5.4 GB in four runs of one workload.
DRIVER_MEMORY = "1g"

END_TO_END = (
    ("setup_s", "s"),
    ("primary_cpu_s", "s"),
    ("secondary_cpu_s", "s"),
    ("rows_per_cpu_s", "rows/s"),
    ("peak_rss_mb", "MB"),
)

PER_LAYER = (
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("ingest.rows_parsed", "count"),
    ("ingest.scan_task_s", "s"),
    ("ingest.mucr_valid_ratio", "ratio"),
    ("keys.salt_rows", "count"),
    ("keys.salt_eval_s", "s"),
    ("keys.arrow_bytes", "bytes"),
    ("cellstore.build_task_s", "s"),
    ("cellstore.build_shuffle_bytes", "bytes"),
    ("cellstore.write_task_s", "s"),
    ("cellstore.spill_bytes", "bytes"),
    ("cellstore.files_written", "count"),
    ("cellstore.bytes_written", "bytes"),
    ("cellstore.cells_written", "count"),
    ("cellstore.bytes_per_input_byte", "ratio"),
    ("cellstore.get_bytes_read", "bytes"),
    ("cellstore.get_files_opened", "count"),
    ("cellstore.get_rows_examined_per_hit", "ratio"),
    ("cellstore.scan_bytes_read", "bytes"),
    ("cellstore.scan_rows_examined_per_hit", "ratio"),
    ("cellstore.decode_task_s", "s"),
    ("cellstore.plan_s", "s"),
    ("validate.cells_compared", "count"),
    ("validate.store_bytes_read", "bytes"),
    ("validate.join_task_s", "s"),
    ("validate.shuffle_bytes", "bytes"),
    ("pipelines.jobs_per_batch", "count"),
    ("pipelines.driver_uncovered_s", "s"),
    ("gen.self_s", "s"),
    ("pipelines.self_s", "s"),
    ("validate.self_s", "s"),
    ("cellstore.self_s", "s"),
    ("spark.task_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.python_eval_s", "s"),
    ("run.nproc", "count"),
    ("run.ext_cores", "cores"),
    ("run.ext_io_gb", "GB"),
    ("trace.overhead_ratio", "ratio"),
    ("wall.primary_p50_ms", "ms"),
    ("wall.secondary_p50_ms", "ms"),
)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str, event_log: bool) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work`` (and turn on the uncompressed event log), before pyspark
    launches the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # every JVM in the tree, spark-submit's launcher included, would
    # otherwise write /tmp/hsperfdata_<user>; compiler threads that
    # never exit keep probes.jit_cpu_ticks exact
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    java_opts = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"))
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    args = ["--driver-java-options", shlex.quote(java_opts)]
    for k, v in confs.items():
        args += ["--conf", shlex.quote(f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


class Ctx:
    """What a workload sees: the session, the seed, its scratch paths."""

    def __init__(self, work: str, seed: int, tracer) -> None:
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.spark = None

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def start_session(self) -> float:
        from applications_analytics_midas_hbase_metrics_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=nproc())
        return time.perf_counter() - t0

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM process to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def measure(args, ctx, wl, tracer) -> tuple[dict, list, dict]:
    import probes
    import workloads
    from tracing import EventLog

    with probes.RssSampler() as rss:
        t0 = time.perf_counter()
        t_setup = {"start_s": ctx.start_session()}
        t_setup.update(wl.setup(ctx))
        t_setup["total_s"] = time.perf_counter() - t0
        window = probes.LoadWindow()
        if not args.trace:
            steps = max(MIN_STEPS, round(args.seconds / wl.step_s))
            ops = wl.run(ctx, steps)
            load = window.close()
            # the peak covers set-up and the measured steps, not the checks
            rss.stop()
            metrics, named = wl.report(ops)
            named["measured_steps"] = (steps, "count")
            metrics["setup_s"] = t_setup["total_s"]
            metrics["peak_rss_mb"] = rss.peak / 2**20
            checks = wl.check(ctx, 1)
            ctx.stop_session()
            return metrics, ops + checks, {"named": named, "load": load, "setup": t_setup}

        # each step runs untraced and traced, in alternating order, so
        # both see the same warm state and neither always goes second
        untraced, ops = [], []
        for i in range(wl.trace_ops):
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                if traced:
                    tracer.enable(ctx.spark.sparkContext)
                    ops += wl.step(ctx, i, 1)
                else:
                    tracer.disable()
                    untraced += wl.step(ctx, i, 0)
        tracer.disable()
        load = window.close()
        checks = wl.check(ctx, 2)
        ctx.stop_session()

    log = EventLog(ctx.path("eventlog"))
    layers = {name: 0.0 for name, _ in PER_LAYER}
    layers.update(wl.layers(ctx, log, tracer.spans, ops))
    layers.update(workloads.common_layers(log, tracer.spans, wl.trace_ops))
    layers["session.start_s"] = t_setup["start_s"]
    layers["session.warmup_s"] = t_setup["warmup_s"]
    layers["run.nproc"] = nproc()
    layers["run.ext_cores"] = load["ext_cores"]
    layers["run.ext_io_gb"] = load["ext_io_gb"]
    layers["wall.primary_p50_ms"], layers["wall.secondary_p50_ms"] = wl.wall_p50_ms(untraced)
    base = sum(o.seconds for o in untraced)
    layers["trace.overhead_ratio"] = sum(o.seconds for o in ops) / base if base else 0.0
    tracer.write(os.path.join(os.path.dirname(ctx.work), f"trace-{wl.name}-{args.seed}.json"), layers)
    _, named = wl.report(ops, replica=1)
    return layers, untraced + ops + checks, {"named": named, "load": load, "setup": t_setup}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        import probes  # noqa: F401 — needs the repository's bench.py
        import workloads
        from tracing import Tracer
    except ImportError as exc:
        print(f"perfbench: the package under test is not importable: {exc}", file=sys.stderr)
        return 3
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    isolate(work, event_log=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload]()
    tracer = Tracer()
    ctx = Ctx(work, args.seed, tracer)
    try:
        metrics, ops, info = measure(args, ctx, wl, tracer)
    finally:
        ctx.stop_session()
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    failed = sum(not o.ok for o in ops)
    units = dict(PER_LAYER if args.trace else END_TO_END)
    print(f"workload {wl.name}  seed {args.seed}  nproc {nproc()}  trace {args.trace}")
    for name, (value, unit) in info["named"].items():
        print(f"  {name:28s} {value if value is None else round(value, 4)!s:>14} {unit}")
    print("  setup phases: " + ", ".join(f"{k} {v:.3f}" for k, v in info["setup"].items()))
    print("  load: " + ", ".join(f"{k} {v}" for k, v in info["load"].items()))
    print(f"  correct {failed == 0}  attempted {len(ops)}  failed {failed}  failed_op_ratio {failed / max(1, len(ops)):.4f}")
    out = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
