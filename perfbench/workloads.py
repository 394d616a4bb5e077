"""The benchmark's workloads.

Each workload drives the package only through its public functions and
feeds it only generated inputs.  ``setup`` generates inputs and warms the
session (building the store where the workload reads one); ``run`` is the
measured loop; every operation is checked against the generator's
expectation after its timer stops.  ``layers`` turns a traced run's spans
and event log into the per-layer metrics."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

import bench
import gen
import probes
from tracing import EventLog, self_times

from applications_analytics_midas_hbase_metrics_spark.operators import cellstore as CS
from applications_analytics_midas_hbase_metrics_spark.plans import pipelines as PL


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")


@dataclass
class Op:
    kind: str
    seconds: float
    #: CPU seconds of the whole process tree (driver, JVM, Python
    #: workers), without the JVM's JIT compilation
    cpu_s: float
    rows: int
    ok: bool


def _timed(fn: Callable[[], object]) -> tuple[object, float, float, bool]:
    """(result, wall seconds, process-tree CPU seconds, ok).  The CPU
    seconds leave out the JVM's JIT compilation: a one-time warm-up cost
    that kept varying long after the warm-up steps (1-6 s of a batch
    load's 10 s of CPU) and made the CPU medians unsteady."""
    c0 = bench._tree_cpu_ticks() - probes.jit_cpu_ticks()
    t0 = time.perf_counter()
    try:
        out = fn()
        ok = True
    except Exception:  # an op that fails counts in `failed`, the run goes on
        traceback.print_exc(file=sys.stderr)
        out, ok = None, False
    wall = time.perf_counter() - t0
    return out, wall, (bench._tree_cpu_ticks() - probes.jit_cpu_ticks() - c0) * _TICK_S, ok


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, names in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, n))
            for n in names
            if not n.startswith((".", "_"))
        )
    return total


def p50(values) -> float:
    return statistics.median(values) if values else 0.0


def tail(values) -> tuple[float, int] | None:
    """Highest whole percentile with at least ten samples above it, as
    (value, percentile); None with fewer than eleven samples."""
    n = len(values)
    if n < 11:
        return None
    pct = (100 * (n - 10)) // n
    ordered = sorted(values)
    return ordered[max(0, -(-pct * n // 100) - 1)], pct


def arrow_rows(tbl) -> list[tuple]:
    cols = [c.to_pylist() for c in tbl.columns]
    return list(zip(*cols))


class Workload:
    name = ""
    #: (primary, secondary) operation kinds
    kinds: tuple[str, str] = ("", "")
    #: operation kinds whose rows count as the workload's work
    row_kinds: tuple[str, ...] = ()
    #: steps per phase of a traced run
    trace_ops: int
    #: seconds one measured step takes on a 4-core VM: a run measures a
    #: fixed number of steps, ``--seconds`` over this
    step_s: float

    def setup(self, ctx) -> dict[str, float]:
        raise NotImplementedError

    def step(self, ctx, i: int, replica: int) -> list[Op]:
        """Operation(s) number ``i``.  A traced run performs every step
        twice, untraced on replica 0 and traced on replica 1; workloads
        with state keep one copy per replica."""
        raise NotImplementedError

    def run(self, ctx, steps: int) -> list[Op]:
        ops: list[Op] = []
        for i in range(steps):
            ops += self.step(ctx, i, 0)
        return ops

    def check(self, ctx, replicas: int) -> list[Op]:
        """Untimed whole-output checks after the measured steps, one
        operation each; they count in ``attempted`` and ``failed`` only."""
        return []

    def report(self, ops: list[Op], replica: int = 0) -> tuple[dict, dict]:
        """(end-to-end metrics, workload-named figures for the report)."""
        raise NotImplementedError

    def e2e(self, ops: list[Op]) -> dict:
        """The end-to-end metrics every workload reports: median CPU
        seconds of its two operation kinds, and rows per CPU second."""
        first, second = ([o.cpu_s for o in ops if o.kind == k] for k in self.kinds)
        return {
            "primary_cpu_s": p50(first),
            "secondary_cpu_s": p50(second),
            "rows_per_cpu_s": _per_s(ops, self.row_kinds, "cpu_s"),
        }

    def wall_p50_ms(self, ops: list[Op]) -> tuple[float, float]:
        return tuple(p50([o.seconds for o in ops if o.kind == k]) * 1000 for k in self.kinds)

    def layers(self, ctx, log: EventLog, spans: list[dict], ops: list[Op]) -> dict:
        """Workload-specific per-layer metrics of a traced run."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# mupr_ingest
# ---------------------------------------------------------------------------


@dataclass
class Store:
    """One growing cell store and what has been loaded into it."""

    path: str
    batches: list[gen.Batch] = field(default_factory=list)
    cells: int = 0
    input_bytes: int = 0


class MuprIngest(Workload):
    name = "mupr_ingest"
    kinds = ("load", "validate")
    row_kinds = ("load",)
    trace_ops = 3
    step_s = 2.5
    #: 500 files a batch, a quarter of the reference's ~2,000: file count,
    #: not rows, sets a batch's cost, and a 2,000-file batch took 6.5 s
    #: warm on a 4-core VM, too long for several batches in one run
    SIZES = gen.Sizes(
        mupr_files=450, bodies=16, units=5, tests=10, values=4, mucr_files=50, mucr_lines=20
    )
    #: full-size batches before the measured ones: the first load spends
    #: four times the CPU of the second, and from the third on a load's
    #: CPU stays within about a tenth
    WARM_BATCHES = 2

    def setup(self, ctx) -> dict[str, float]:
        t0 = time.perf_counter()
        warm = [gen.mupr_batch(ctx.seed, 1000 + k, self.SIZES, tag="w") for k in range(self.WARM_BATCHES)]
        dirs = [b.write(ctx.path(f"warm-{k}")) for k, b in enumerate(warm)]
        t1 = time.perf_counter()
        store = Store(ctx.path("warm-store"))
        for b, d in zip(warm, dirs):
            if not all(o.ok for o in self._batch(ctx, b, d, store)):
                raise RuntimeError("mupr_ingest warm-up batch failed")
        self.stores = [Store(ctx.path("store")), Store(ctx.path("store-traced"))]
        return {"gen_s": t1 - t0, "warmup_s": time.perf_counter() - t1}

    def step(self, ctx, i, replica) -> list[Op]:
        ctx.tracer.trace_id = f"batch-{i}"
        with ctx.tracer.span("gen", "mupr_batch"):
            b = gen.mupr_batch(ctx.seed, i, self.SIZES)
            dirs = b.write(ctx.path(f"batch-{i}-{replica}"))
        store = self.stores[replica]
        store.input_bytes += b.input_bytes
        return self._batch(ctx, b, dirs, store)

    def check(self, ctx, replicas):
        """The whole store against every cell the generator made for it,
        MUPR and MUCR, by count and order-free hash: ``validate_load``
        only compares MUPR cells, and compares them with what the same
        ``to_cells`` builds."""
        ops = []
        for store in self.stores[:replicas]:
            tbl, secs, cpu, ok = _timed(
                lambda: CS.read_cells(ctx.spark, store.path).select("row_key", "col_name", "values").toArrow()
            )
            if ok:
                got = arrow_rows(tbl)
                want = gen.cells_digest(c for b in store.batches for c in b.cells())
                have = (len(got), gen.rows_hash(gen.cell_row((rk, cn), v) for rk, cn, v in got))
                ok = have == want
                if not ok:
                    print(f"mupr_ingest store: (cells, hash) {have} != expected {want}", file=sys.stderr)
            ops.append(Op("store_check", secs, cpu, 0, ok))
        return ops

    def _batch(self, ctx, b: gen.Batch, dirs, store: Store) -> list[Op]:
        spark, span = ctx.spark, ctx.tracer.span
        mupr_dir, mucr_dir, trig = dirs

        def load():
            with span("bench", "load"):
                with span("pipelines", "ingest_mupr_to_store"):
                    PL.ingest_mupr_to_store(spark, mupr_dir, trig, store.path)
                with span("pipelines", "ingest_mucr_to_store"):
                    PL.ingest_mucr_to_store(spark, mucr_dir, trig, store.path)

        def validate():
            with span("bench", "validate"):
                with span("pipelines", "validate_load"):
                    df = PL.validate_load(spark, mupr_dir, trig, store.path)
                with span("validate", "collect"):
                    return df.collect()

        _, load_s, load_cpu, load_ok = _timed(load)
        store.batches.append(b)
        store.cells += b.n_mupr_cells + len(b.mucr_cells)
        rows, val_s, val_cpu, val_ok = _timed(validate)
        if val_ok:
            got = {r["verdict"]: r["n"] for r in rows}
            want = {
                "match": b.n_mupr_cells,
                "missing_in_file": store.cells - b.n_mupr_cells,
            }
            val_ok = got == want
            if not val_ok:
                print(f"mupr_ingest batch {b.index}: verdicts {got} != {want}", file=sys.stderr)
        n_rows = b.mupr_rows + b.mucr_lines
        return [
            Op("load", load_s, load_cpu, n_rows, load_ok),
            Op("validate", val_s, val_cpu, n_rows, val_ok),
        ]

    def report(self, ops, replica=0):
        store = self.stores[replica]
        ratio = dir_bytes(store.path) / store.input_bytes if store.input_bytes else 0.0
        return self.e2e(ops), {
            **_named(ops, "load", "s", 1),
            **_named(ops, "validate", "s", 1),
            "ingest_rows_per_s": (_per_s(ops, self.row_kinds, "seconds"), "rows/s"),
            "store_bytes_per_input_byte": (ratio, "ratio"),
            "input_rows_per_batch": (ops[0].rows if ops else 0, "rows"),
        }

    def layers(self, ctx, log, spans, ops):
        n = max(1, len(ops) // 2)
        by = _spans_by_name(spans)
        ingest = log.jobs_of(by["ingest_mupr_to_store"] + by["ingest_mucr_to_store"])
        mucr = log.jobs_of(by["ingest_mucr_to_store"])
        val = log.jobs_of(by["validate_load"] + by["collect"])
        st = log.stages_of(ingest)
        scan = [s for s in st if log.stages[s].scopes & {"Scan csv ", "Scan text "}]
        write = [s for s in st if log.stages[s].scopes & {"WriteFiles", "Execute InsertIntoHadoopFsRelationCommand"}]
        build = [s for s in st if s not in scan and s not in write]
        lines = log.sql(mucr, "Scan text", "number of output rows")
        kept = log.sql(mucr, "", "", accs=log.filter_above(mucr, "Scan text"))
        vst = log.stages_of(val)
        driver_spans = set(by["ingest_mupr_to_store"] + by["ingest_mucr_to_store"] + by["validate_load"] + by["collect"])
        uncovered = sum(
            max(0.0, (s["end"] - s["start"]) - log.job_wall(log.jobs_of([s["id"]])))
            for s in spans
            if s["id"] in driver_spans
        )
        store = self.stores[1]
        return {
            "ingest.rows_parsed": (log.sql(ingest, "Scan csv", "number of output rows") + log.sql(ingest, "Scan text", "number of output rows")) / n,
            "ingest.scan_task_s": log.stage_sum(scan, "run_s") / n,
            "ingest.mucr_valid_ratio": kept / lines if lines else 0.0,
            "keys.salt_rows": log.sql(ingest, "ArrowEvalPython", "number of output rows") / n,
            "keys.salt_eval_s": log.sql(ingest, "ArrowEvalPython", "time to run Python workers") / 1000 / n,
            "keys.arrow_bytes": log.sql(ingest, "ArrowEvalPython", "data sent to Python workers") / n,
            "cellstore.build_task_s": log.stage_sum(build, "run_s") / n,
            "cellstore.build_shuffle_bytes": log.stage_sum(st, "shuffle_write") / n,
            "cellstore.write_task_s": log.stage_sum(write, "run_s") / n,
            "cellstore.spill_bytes": log.stage_sum(st, "spill") / n,
            "cellstore.files_written": log.sql(ingest, "Execute InsertIntoHadoopFsRelationCommand", "number of written files") / n,
            "cellstore.bytes_written": log.sql(ingest, "Execute InsertIntoHadoopFsRelationCommand", "written output") / n,
            "cellstore.cells_written": log.sql(ingest, "Execute InsertIntoHadoopFsRelationCommand", "number of output rows") / n,
            "cellstore.bytes_per_input_byte": dir_bytes(store.path) / store.input_bytes if store.input_bytes else 0.0,
            "validate.cells_compared": (log.sql(val, "SortMergeJoin", "number of output rows") + log.sql(val, "ShuffledHashJoin", "number of output rows")) / n,
            "validate.store_bytes_read": log.sql(val, "Scan parquet", "size of files read") / n,
            "validate.join_task_s": log.stage_sum(vst, "run_s") / n,
            "validate.shuffle_bytes": log.stage_sum(vst, "shuffle_write") / n,
            "pipelines.jobs_per_batch": (len(ingest) + len(val)) / n,
            "pipelines.driver_uncovered_s": uncovered / n,
        }


def _per_s(ops: list[Op], kinds, attr: str) -> float:
    """Rows of ``kinds`` ops over the time (``seconds`` or ``cpu_s``) of
    all ops: load and validate both count against ingested rows."""
    rows = sum(o.rows for o in ops if o.kind in kinds)
    spent = sum(getattr(o, attr) for o in ops)
    return rows / spent if spent else 0.0


def _named(ops: list[Op], kind: str, unit: str, scale: float) -> dict:
    """Wall-time p50 and tail of one op kind, under the op's own name."""
    vals = [o.seconds for o in ops if o.kind == kind]
    out = {f"{kind}_p50_{unit}": (p50(vals) * scale, unit)}
    t = tail(vals)
    out[f"{kind}_tail_{unit}"] = (t[0] * scale, f"{unit} p{t[1]} n={len(vals)}") if t else (None, f"n={len(vals)} < 11")
    out[f"{kind}_cpu_p50_s"] = (p50([o.cpu_s for o in ops if o.kind == kind]), "s")
    return out


def _spans_by_name(spans) -> defaultdict[str, list[int]]:
    out: defaultdict[str, list[int]] = defaultdict(list)
    for s in spans:
        out[s["name"]].append(s["id"])
    return out


# ---------------------------------------------------------------------------
# cell_readback
# ---------------------------------------------------------------------------


class CellReadback(Workload):
    name = "cell_readback"
    kinds = ("get", "scan")
    row_kinds = ("get", "scan")
    trace_ops = 2
    step_s = 3.3
    #: one trigger batch of the reference's ~2,000 files, 1M cells of two
    #: values each: the store size at which a 1,000-key bulkGet takes
    #: about 0.6 s and a lot-prefix scan a few tenths of a second
    SIZES = gen.Sizes(
        mupr_files=2000, bodies=32, units=20, tests=25, values=2, mucr_files=0, mucr_lines=0
    )
    #: a step is one block of the request stream: three gets, two scans
    BLOCK = 5
    BLOCKS = 16
    #: untimed blocks after the store build: the first request spends
    #: more than twice the CPU of the later ones, which stay within
    #: about a tenth of each other from the second block on
    WARM_BLOCKS = 2

    def setup(self, ctx) -> dict[str, float]:
        t0 = time.perf_counter()
        b = gen.mupr_batch(ctx.seed, 0, self.SIZES, tag="r")
        mupr_dir, _mucr, trig = b.write(ctx.path("r-batch"))
        self.input_bytes = b.input_bytes
        self.requests = gen.readback_requests(ctx.seed, b, self.BLOCK * self.BLOCKS)
        t1 = time.perf_counter()
        self.store = ctx.path("r-store")
        PL.ingest_mupr_to_store(ctx.spark, mupr_dir, trig, self.store)
        t2 = time.perf_counter()
        for req in self.requests[: self.BLOCK * self.WARM_BLOCKS]:
            if not self._request(ctx, req).ok:
                raise RuntimeError("cell_readback warm-up request failed")
        return {"gen_s": t1 - t0, "build_s": t2 - t1, "warmup_s": time.perf_counter() - t2}

    def step(self, ctx, i, replica) -> list[Op]:
        block = self.WARM_BLOCKS + i % (self.BLOCKS - self.WARM_BLOCKS)
        ops = []
        for j in range(block * self.BLOCK, (block + 1) * self.BLOCK):
            ctx.tracer.trace_id = f"req-{j}"
            ops.append(self._request(ctx, self.requests[j]))
        return ops

    def _request(self, ctx, req: gen.Request) -> Op:
        spark, span = ctx.spark, ctx.tracer.span

        def get():
            with span("bench", "get"):
                with span("gen", "keys_frame"):
                    keys = spark.createDataFrame(req.keys, "row_key string, col_name string")
                with span("cellstore", "read_cells"):
                    cells = CS.read_cells(spark, self.store)
                with span("cellstore", "lookup_cells"):
                    df = CS.lookup_cells(cells, keys).select("row_key", "col_name", "values")
                with span("cellstore", "toArrow"):
                    return df.toArrow()

        def scan():
            with span("bench", "scan"):
                with span("cellstore", "read_cells"):
                    cells = CS.read_cells(spark, self.store, prefix=req.keys)
                with span("cellstore", "decode_cells"):
                    df = CS.decode_cells(cells, gen.MUPR_KEY_NAMES, gen.MUPR_VALUE_NAMES)
                with span("cellstore", "toArrow"):
                    return df.toArrow()

        tbl, secs, cpu, ok = _timed(get if req.kind == "get" else scan)
        rows = 0
        if ok:
            got = arrow_rows(tbl)
            if req.kind == "get":
                got = [gen.cell_row((rk, cn), v) for rk, cn, v in got]
            rows = len(got)
            ok = rows == req.expected_rows and gen.rows_hash(got) == req.expected_hash
            if not ok:
                print(f"cell_readback {req.kind}: {rows} rows, expected {req.expected_rows}", file=sys.stderr)
        return Op(req.kind, secs, cpu, rows, ok)

    def report(self, ops, replica=0):
        return self.e2e(ops), {
            **_named(ops, "get", "ms", 1000),
            **_named(ops, "scan", "ms", 1000),
            "result_rows_per_s": (_per_s(ops, self.row_kinds, "seconds"), "rows/s"),
            "store_bytes_per_input_byte": (dir_bytes(self.store) / self.input_bytes, "ratio"),
        }

    def layers(self, ctx, log, spans, ops):
        by = _spans_by_name(spans)
        parents = {s["id"]: s["parent"] for s in spans}
        names = {s["id"]: s["name"] for s in spans}
        actions = by["toArrow"]
        get_jobs = log.jobs_of([a for a in actions if names[parents[a]] == "get"])
        scan_jobs = log.jobs_of([a for a in actions if names[parents[a]] == "scan"])
        n_get = max(1, sum(o.kind == "get" for o in ops))
        n_scan = max(1, sum(o.kind == "scan" for o in ops))
        hits_get = max(1, sum(o.rows for o in ops if o.kind == "get"))
        hits_scan = max(1, sum(o.rows for o in ops if o.kind == "scan"))
        plan_ids = set(by["read_cells"] + by["lookup_cells"] + by["decode_cells"])
        plan_s = sum(s["end"] - s["start"] for s in spans if s["id"] in plan_ids)
        return {
            "cellstore.get_bytes_read": log.sql(get_jobs, "Scan parquet", "size of files read") / n_get,
            "cellstore.get_files_opened": log.sql(get_jobs, "Scan parquet", "number of files read") / n_get,
            "cellstore.get_rows_examined_per_hit": log.sql(get_jobs, "Scan parquet", "number of output rows") / hits_get,
            "cellstore.scan_bytes_read": log.sql(scan_jobs, "Scan parquet", "size of files read") / n_scan,
            "cellstore.scan_rows_examined_per_hit": log.sql(scan_jobs, "Scan parquet", "number of output rows") / hits_scan,
            "cellstore.decode_task_s": log.stage_sum(log.stages_of(scan_jobs), "run_s") / n_scan,
            "cellstore.plan_s": plan_s / max(1, len(ops)),
        }


WORKLOADS: dict[str, type[Workload]] = {w.name: w for w in (MuprIngest, CellReadback)}


def common_layers(log: EventLog, spans: list[dict], steps: int) -> dict:
    """Engine-wide task metrics and layer self times, per step."""
    n = max(1, steps)
    op_ids = [s["id"] for s in spans if s["layer"] == "bench"]
    kids: dict[int, list[int]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    under = set()
    stack = list(op_ids)
    while stack:
        i = stack.pop()
        under.add(i)
        stack += kids.get(i, [])
    jobs = log.jobs_of(under)
    st = log.stages_of(jobs)
    out = {
        "spark.task_s": log.stage_sum(st, "run_s") / n,
        "spark.gc_s": log.stage_sum(st, "gc_s") / n,
        "spark.shuffle_bytes": log.stage_sum(st, "shuffle_write") / n,
        "spark.spill_bytes": log.stage_sum(st, "spill") / n,
        "spark.python_eval_s": log.sql(jobs, "", "time to run Python workers") / 1000 / n,
    }
    selfs = self_times(spans)
    for layer in LAYERS:
        out[f"{layer}.self_s"] = selfs.get(layer, 0.0) / n
    return out


#: Layers that own spans (the benchmark's op spans are layer "bench").
LAYERS = ("gen", "pipelines", "validate", "cellstore")
