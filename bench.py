"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE compact JSON line:
  {"metric": "...", "value": N, "value_cold": N, "unit": "sec",
   "sf": ..., "queries": {name: sec, ...}, "n_queries": N,
   "detail": "BENCH_DETAIL.json"}
"queries" (round 16) is the per-query OFFICIAL series —
min-of-trials, 2 dp — printed with compact separators so the whole
line stays ~1.6 kB inside the driver's ~2000-char stdout tail capture
(round 6 lost the headline by printing the full multi-sweep detail
dict there; round 15's PERF per_query came back empty because the
driver ingests only this line).  Full per-sweep timings
("queries"/"queries_cold" medians, mins, spreads) and pin-registry
"claims" stay in the BENCH_DETAIL.json sidecar.

MEASUREMENT PROTOCOL (round 13): median-of-N over FRESH JVMs.
Round 12's archived warm total drifted +35% round-over-round as a
near-uniform inflation across 41 queries whose plans did not change —
and a single-shot run cannot tell tenant noise from a real floor
shift.  The official row is therefore:

  * N trials (default 3, $SPARK_GRAFT_TRIALS), each a SEPARATE
    python/JVM process — no cross-trial cache, codegen, or pin
    carry-over; each trial's ext_cores/loadavg recorded so every
    sample is load-qualified.
  * Within a trial each query runs ONCE per sweep (a clean sequential
    production sweep); the cross-trial per-query MEDIAN is the
    headline, with per-query min and spread (max-min) archived
    alongside so a consumer can separate dispersion from level.
  * value = sum of per-query warm medians; value_cold likewise.

QUIET-WINDOW GATE + OFFICIAL SERIES (round 15): rounds 12-14 each
archived a contaminated row — the telemetry showed 1-2.3 external
cores busy on every trial and the series drifted +40% with zero code
change.  Two fixes: (a) a trial whose own telemetry shows
> $SPARK_GRAFT_QUIET_CORES (default 0.5) external cores or > 1 GiB
external disk I/O is rejected and re-run, bounded by
$SPARK_GRAFT_QUIET_RETRIES (default 3) extra attempts — if retries
exhaust, the dirty trial is kept and load_flag marks the row; (b) the
official round-over-round TREND statistic is per-query MIN-of-trials
("value_min" / "value_cold_min", "official_series": "min-of-trials")
— the one statistic contamination can only worsen, never flatter.

Two sweeps per trial, both reported so the keyed-pin registry's
multi-query speedup is measured honestly instead of inferred:

  * WARM (the headline "value"): driver-registration order, pins live —
    adjacent family members claim shared materialized intermediates
    exactly as a sequential production sweep would.  Claimed keys are
    recorded under "claims" (from the first trial), so a consumer can
    tell which numbers are residual work on a sibling's cached frame
    vs cold builds.
  * COLD ("value_cold"): the pin registry is flushed before EVERY
    query — no cross-query claims, every number is a full rebuild.
    (JVM/codegen and OS page cache stay warm WITHIN a trial; the
    sweeps isolate the registry effect, the fresh-JVM trials isolate
    process state.)

Env: SPARK_GRAFT_COLD=1 runs the cold sweep only (fast iteration on
cold-path changes); SPARK_GRAFT_WARM=1 runs the warm sweep only;
SPARK_GRAFT_TRIALS=1 gives a single-shot run (iteration, not the
official row).

Each query is materialized with a full count() so the whole plan
executes (no lazy no-ops).  Wall-clock per query; value = total.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_busy_ticks() -> int:
    """Total non-idle CPU ticks across the box (/proc/stat cpu line,
    idle+iowait excluded)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    vals = list(map(int, f[1:9]))
    return sum(vals) - vals[3] - vals[4]


def _tree_cpu_ticks() -> int:
    """CPU ticks of THIS process tree — the bench driver plus its live
    descendants (the Spark JVM), one /proc walk.  utime+stime for the
    live processes PLUS cutime+cstime so a descendant that exits
    between two samples keeps counting (its ticks fold into its
    parent's reaped-children counters instead of vanishing from /proc
    and reading as external load)."""
    me = os.getpid()
    ppid: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            ppid[int(p)] = int(rest[1])
            cpu[int(p)] = (
                int(rest[11]) + int(rest[12])  # utime + stime
                + int(rest[13]) + int(rest[14])  # cutime + cstime
            )
        except OSError:
            continue
    total = 0
    for pid in cpu:
        q = pid
        while q in ppid and q != me:
            q = ppid[q]
        if q == me:
            total += cpu[pid]
    return total


def _disk_bytes() -> int:
    """Box-total bytes read+written across whole physical disks
    (/proc/diskstats sectors × 512; partitions/loop/ram excluded so a
    byte is counted once)."""
    import re as _re

    total = 0
    with open("/proc/diskstats") as fh:
        for ln in fh:
            f = ln.split()
            name = f[2]
            if _re.fullmatch(r"(?:[svx]v?d[a-z]+|nvme\d+n\d+)", name):
                total += (int(f[5]) + int(f[9])) * 512
    return total


#: Last-seen /proc/<pid>/io totals of THIS tree's descendants, keyed by
#: (pid, starttime) so a recycled pid never aliases an exited process.
#: Unlike CPU (where cutime/cstime roll a dead child's ticks into its
#: parent), /proc/<pid>/io has no reaped-child aggregation — a PySpark
#: UDF worker that exits between the paired samples would simply
#: vanish from a stateless tree sum and its bytes be misattributed to
#: EXTERNAL I/O (round-15 ADVICE fix); retaining exited descendants'
#: last-seen totals keeps the tree series monotonic.  Residual caveat:
#: bytes a descendant writes between the last sample that saw it and
#: its exit are still lost (sampling happens per sweep), so ext_io_gb
#: remains an upper bound on external traffic.
_TREE_IO_LAST: dict[tuple[int, int], int] = {}


def _tree_io_bytes() -> int:
    """Storage-layer bytes (read_bytes+write_bytes from /proc/<pid>/io)
    of THIS process tree — same tree walk as _tree_cpu_ticks, PLUS the
    retained last-seen totals of descendants that have since exited
    (see :data:`_TREE_IO_LAST`) — so box-total disk traffic minus this
    is EXTERNAL I/O even when short-lived workers churn."""
    me = os.getpid()
    ppid: dict[int, int] = {}
    start: dict[int, int] = {}
    io: dict[int, int] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                rest = fh.read().rsplit(")", 1)[1].split()
            ppid[int(p)] = int(rest[1])
            start[int(p)] = int(rest[19])  # starttime, field 22
            b = 0
            with open(f"/proc/{p}/io") as fh:
                for ln in fh:
                    if ln.startswith(("read_bytes", "write_bytes")):
                        b += int(ln.split()[1])
            io[int(p)] = b
        except OSError:
            continue
    for pid, b in io.items():
        q = pid
        while q in ppid and q != me:
            q = ppid[q]
        if q == me:
            _TREE_IO_LAST[(pid, start[pid])] = b
    return sum(_TREE_IO_LAST.values())


def _meminfo_gb() -> tuple[float, float]:
    """(MemAvailable, Cached) in GiB — page-cache state evidence for
    the sidecar: a trial that starts with a cold or pressured cache is
    visible instead of reading as unattributed drift."""
    avail = cached = 0
    with open("/proc/meminfo") as fh:
        for ln in fh:
            if ln.startswith("MemAvailable"):
                avail = int(ln.split()[1])
            elif ln.startswith("Cached"):
                cached = int(ln.split()[1])
    return round(avail / 2**20, 2), round(cached / 2**20, 2)


def _ext_io_gb(disk0: int, tree0: int) -> float:
    """External (non-this-tree) disk GiB moved since the paired
    (_disk_bytes, _tree_io_bytes) sample — the I/O sibling of
    _ext_cores, closing the round-13 'CPU telemetry cannot explain the
    residual' gap: a tenant hammering the disk now shows in the
    archived row even at zero CPU."""
    ext = (_disk_bytes() - disk0) - (_tree_io_bytes() - tree0)
    return max(round(ext / 2**30, 2), 0.0)


def _ext_cores(t0: float, busy0: int, tree0: int) -> float:
    """Average EXTERNAL cores busy since the (t0, busy0, tree0) sample:
    (box busy CPU − this bench's own process-tree CPU) / wall.  Unlike
    loadavg — which the bench itself saturates mid-run (local[32] at
    full tilt reads load > 6 with ZERO tenants) — this isolates
    other-tenant compute, so the contamination flag can be strict
    without always firing on our own sweeps."""
    tck = os.sysconf("SC_CLK_TCK")
    wall = max(time.monotonic() - t0, 1e-6)
    ext = (_cpu_busy_ticks() - busy0) - (_tree_cpu_ticks() - tree0)
    return max(ext / tck / wall, 0.0)


def _warm_sweep(spark, sf_dir, queries, Q):
    """One pass per query, pins live across queries (registration
    order) — a clean sequential production sweep; noise control is the
    cross-trial median, not a within-JVM best-of."""
    timings: dict[str, float] = {}
    claims: dict[str, list[str]] = {}
    for name, fn in queries.items():
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        n = df.count()
        dt = time.monotonic() - t0
        timings[name] = round(dt, 3)
        ck = Q.claimed_keys()
        if ck:
            claims[name] = ck
        note = f"  (claimed: {', '.join(ck)})" if ck else ""
        print(f"# warm {name}: {n} rows in {timings[name]}s{note}", file=sys.stderr)
    return timings, claims


def _cold_sweep(spark, sf_dir, queries, Q):
    """One pass per query, registry flushed before EVERY run — each
    number is a full rebuild with no claimable pins anywhere."""
    from applications_analytics_midas_hbase_metrics_spark.operators import pinning

    timings: dict[str, float] = {}
    for name, fn in queries.items():
        pinning.release_all()
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        n = df.count()
        dt = time.monotonic() - t0
        timings[name] = round(dt, 3)
        print(f"# cold {name}: {n} rows in {timings[name]}s", file=sys.stderr)
    pinning.release_all()
    return timings


def run_trial() -> dict:
    """One fresh-JVM trial: warm sweep + cold sweep, each query once,
    ext_cores/loadavg sampled per sweep.  Returns the trial detail
    dict; in child mode (SPARK_GRAFT_TRIAL_OUT set) main() writes it
    to that path instead of printing the official row."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    cold_only = os.environ.get("SPARK_GRAFT_COLD") == "1"
    warm_only = os.environ.get("SPARK_GRAFT_WARM") == "1"

    import __spark_entry__ as E
    from applications_analytics_midas_hbase_metrics_spark.plans import queries as Q
    from applications_analytics_midas_hbase_metrics_spark.session import get_spark

    spark = get_spark(app_name="midas-bench", cpus=cpus)

    # warm the JVM + parquet footers once so per-query numbers measure
    # the queries, not session startup
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # also absorb session-generic first-query machinery (whole-stage
    # codegen framework, exchange/shuffle infra, broadcast relation
    # build) with two throwaway shapes: without this, the FIRST real
    # query in registration order absorbed ~8 s of JVM warm-up in
    # every fresh trial (cell_build read 7.7-15.8 s vs its own ~1 s),
    # polluting per-query attribution while leaving the total honest
    spark.sql(
        "select count(*) from (select id % 7 k, count(*) c "
        "from range(100000) group by 1)"
    ).collect()
    spark.sql(
        "select /*+ broadcast(b) */ count(*) from range(10000) a "
        "join range(10) b on a.id % 10 = b.id"
    ).collect()
    # ... and the Arrow/pandas Python worker pool (round 15): the first
    # ArrowEvalPython stage in a fresh JVM forks one Python worker per
    # core (~2.8 s wall at 32 cores) — session-generic startup in the
    # same class as the codegen framework above, charged to whichever
    # gated query happens to hit the Python boundary first.  The cell
    # family salts on the JVM and never reaches it; the token hash
    # behind dedup_minhash does.  One tiny noop-sink pass over that UDF
    # spawns the full pool.
    from pyspark.sql import functions as _F

    from applications_analytics_midas_hbase_metrics_spark.functions.keys import (
        java_hash_vec,
    )

    (
        spark.range(0, 100_000, 1, spark.sparkContext.defaultParallelism)
        .select(java_hash_vec(_F.col("id").cast("string")))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    queries = E.queries()
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    trial: dict = {"sf": sf, "n_queries": len(queries)}
    load_before = os.getloadavg()

    ext_cores: list[float] = []
    ext_io: list[float] = []
    mem: list[tuple[float, float]] = [_meminfo_gb()]
    t0, busy0, tree0 = time.monotonic(), _cpu_busy_ticks(), _tree_cpu_ticks()
    disk0, treeio0 = _disk_bytes(), _tree_io_bytes()
    if not cold_only:
        warm, claims = _warm_sweep(spark, sf_dir, queries, Q)
        trial["value"] = round(sum(warm.values()), 3)
        trial["queries"] = warm
        trial["claims"] = claims
        ext_cores.append(round(_ext_cores(t0, busy0, tree0), 2))
        ext_io.append(_ext_io_gb(disk0, treeio0))
    load_mid = os.getloadavg()
    mem.append(_meminfo_gb())
    t0, busy0, tree0 = time.monotonic(), _cpu_busy_ticks(), _tree_cpu_ticks()
    disk0, treeio0 = _disk_bytes(), _tree_io_bytes()
    if not warm_only:
        cold = _cold_sweep(spark, sf_dir, queries, Q)
        trial["value_cold"] = round(sum(cold.values()), 3)
        trial["queries_cold"] = cold
        ext_cores.append(round(_ext_cores(t0, busy0, tree0), 2))
        ext_io.append(_ext_io_gb(disk0, treeio0))
    if cold_only:
        trial["value"] = trial["value_cold"]
        trial["queries"] = trial["queries_cold"]

    trial["ext_cores"] = ext_cores
    trial["ext_io_gb"] = ext_io
    trial["mem_avail_gb"] = [m[0] for m in mem] + [_meminfo_gb()[0]]
    trial["page_cache_gb"] = [m[1] for m in mem] + [_meminfo_gb()[1]]
    trial["load_1m"] = [
        round(x[0], 2) for x in (load_before, load_mid, os.getloadavg())
    ]
    spark.stop()
    return trial


def _agg(per_trial: list[dict[str, float]]) -> tuple[dict, dict, dict]:
    """Per-query (median, min, spread) across trials."""
    names = per_trial[0].keys()
    med = {
        q: round(statistics.median(t[q] for t in per_trial), 3)
        for q in names
    }
    mn = {q: round(min(t[q] for t in per_trial), 3) for q in names}
    spread = {
        q: round(max(t[q] for t in per_trial) - mn[q], 3) for q in names
    }
    return med, mn, spread


def main() -> None:
    trial_out = os.environ.get("SPARK_GRAFT_TRIAL_OUT")
    if trial_out:
        # child mode: one fresh-JVM trial, detail to the given path
        with open(trial_out, "w") as fh:
            json.dump(run_trial(), fh)
        return

    n_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "3"))
    cold_only = os.environ.get("SPARK_GRAFT_COLD") == "1"
    warm_only = os.environ.get("SPARK_GRAFT_WARM") == "1"
    here = os.path.dirname(os.path.abspath(__file__))

    def _one_trial(i: int) -> dict:
        if n_trials == 1:
            return run_trial()
        out = os.path.join(here, f".bench_trial_{i}.json")
        env = dict(os.environ, SPARK_GRAFT_TRIAL_OUT=out)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            env=env,
            check=True,
            stdout=sys.stderr,
        )
        with open(out) as fh:
            t = json.load(fh)
        os.remove(out)
        return t

    # QUIET-WINDOW GATE (round 15): a trial whose own telemetry shows
    # another tenant busy (> quiet_cores external cores, a stricter bar
    # than the archival load_flag's n_cpus/16) or external disk churn
    # is REJECTED and re-run, bounded by quiet_retries — rounds 12-14
    # each archived a contaminated official row because the protocol
    # measured the contamination but still kept the trial.  If retries
    # exhaust, the dirty trial is kept (the sweep must terminate) and
    # load_flag still marks the row.
    quiet_cores = float(os.environ.get("SPARK_GRAFT_QUIET_CORES", "0.5"))
    quiet_retries = int(os.environ.get("SPARK_GRAFT_QUIET_RETRIES", "3"))
    trials: list[dict] = []
    rejected: list[dict] = []
    attempt = 0
    while len(trials) < n_trials:
        print(
            f"# trial {len(trials) + 1}/{n_trials}"
            f" (fresh JVM, attempt {attempt + 1})",
            file=sys.stderr,
        )
        t = _one_trial(attempt)
        attempt += 1
        dirty = bool(
            (t.get("ext_cores") and max(t["ext_cores"]) > quiet_cores)
            or (t.get("ext_io_gb") and max(t["ext_io_gb"]) > 1.0)
        )
        if dirty and quiet_retries > 0:
            quiet_retries -= 1
            rejected.append(
                {
                    "ext_cores": t.get("ext_cores"),
                    "ext_io_gb": t.get("ext_io_gb"),
                    "value": t.get("value"),
                    "value_cold": t.get("value_cold"),
                }
            )
            print(
                f"# REJECTED (ext_cores={t.get('ext_cores')},"
                f" ext_io_gb={t.get('ext_io_gb')}) — retrying",
                file=sys.stderr,
            )
            continue
        if dirty:
            print(
                "# retries exhausted — keeping dirty trial"
                " (load_flag will mark the row)",
                file=sys.stderr,
            )
        trials.append(t)

    result: dict = {
        "metric": "total_query_wall_sec",
        "unit": "sec",
        "sf": trials[0]["sf"],
        "protocol": f"median-of-{len(trials)}-fresh-jvm",
        # the official TREND statistic: per-query min across kept
        # trials (summed into value_min / value_cold_min) — the one
        # statistic background contamination can only worsen, never
        # flatter, so round-over-round comparisons use it; the median
        # stays for dispersion context
        "official_series": "min-of-trials",
    }
    detail: dict = dict(result)
    if not cold_only:
        med, mn, spread = _agg([t["queries"] for t in trials])
        result["value"] = round(sum(med.values()), 3)
        result["value_min"] = round(sum(mn.values()), 3)
        # Driver contract (round 16): the one-line JSON carries the
        # per-query map itself — round 15's PERF per_query came back
        # EMPTY (n_common: 0) because the driver ingests only this
        # line, not the sidecar.  The map is the official trend
        # statistic (per-query min-of-trials, 2 dp) and the line is
        # printed with compact separators so the full 50-query row
        # stays ~1.6 kB, inside the driver's ~2 kB tail capture (the
        # round-6 overflow was the full detail dict with default
        # separators).
        result["queries"] = {q: round(v, 2) for q, v in mn.items()}
        detail["queries"] = med
        detail["queries_min"] = mn
        detail["queries_spread"] = spread
        detail["claims"] = trials[0].get("claims", {})
    if not warm_only:
        medc, mnc, spreadc = _agg([t["queries_cold"] for t in trials])
        result["value_cold"] = round(sum(medc.values()), 3)
        result["value_cold_min"] = round(sum(mnc.values()), 3)
        detail["queries_cold"] = medc
        detail["queries_cold_min"] = mnc
        detail["queries_cold_spread"] = spreadc
    if cold_only:
        result["value"] = result["value_cold"]
        result["value_min"] = round(sum(mnc.values()), 3)
        result["queries"] = {q: round(v, 2) for q, v in mnc.items()}
        detail["queries"] = detail["queries_cold"]
    detail["rejected_trials"] = rejected
    result["n_rejected_trials"] = len(rejected)

    # Load accounting: every trial's own ext_cores + loadavg endpoints,
    # so the archived row is self-describing per SAMPLE, not per round —
    # a contaminated trial is visible and the median has already voted
    # it down.  Flag if ANY sweep of ANY trial saw > n_cpus/16 external
    # cores (2 on local[32]).
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    all_ext = [e for t in trials for e in t.get("ext_cores", [])]
    all_io = [e for t in trials for e in t.get("ext_io_gb", [])]
    result["ext_cores"] = all_ext
    result["ext_io_gb"] = all_io
    # the official row is clean only when EVERY sweep of EVERY trial is
    # clean on BOTH telemetry channels (round-14: CPU alone could not
    # explain round-13's residual drift): > n_cpus/16 external cores OR
    # > 1 GiB external disk traffic during any sweep flags the row.
    # Attribution caveat: ext_io_gb is an UPPER bound — bytes written
    # by a tree descendant in its final moments before exit can still
    # be misread as external (see _TREE_IO_LAST), so the 1 GiB
    # threshold is deliberately far above any plausible residual
    result["load_flag"] = bool(
        (all_ext and max(all_ext) > cpus / 16)
        or (all_io and max(all_io) > 1.0)
    )
    result["load_1m"] = trials[-1]["load_1m"]
    detail["trials"] = [
        {
            k: t.get(k)
            for k in (
                "value",
                "value_cold",
                "ext_cores",
                "ext_io_gb",
                "mem_avail_gb",
                "page_cache_gb",
                "load_1m",
            )
        }
        for t in trials
    ]
    detail["per_trial_queries"] = [t.get("queries") for t in trials]

    detail.update(result)
    detail["n_queries"] = trials[0]["n_queries"]
    # The driver tail-captures ~2000 chars of stdout; keep the LAST
    # stdout line compact (headline totals only) and write the
    # per-query / per-trial detail to a sidecar next to this script.
    with open(os.path.join(here, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    # ALSO archive a round-stamped copy: BENCH_DETAIL.json is
    # overwritten every run, which cost round 10's judge the one
    # artifact that would have settled a rotation-vs-load question
    # (per-query warm series across rounds).  The round is the one the
    # driver will record next (1 + the highest committed BENCH_r{N}),
    # overridable via SPARK_GRAFT_ROUND.
    import glob
    import re

    rnd = os.environ.get("SPARK_GRAFT_ROUND")
    if not rnd:
        seen = [
            int(m.group(1))
            for p in glob.glob(os.path.join(here, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        rnd = str(max(seen, default=0) + 1)
    with open(os.path.join(here, f"BENCH_DETAIL_r{int(rnd):02d}.json"), "w") as fh:
        json.dump(detail, fh, indent=1)
    result["n_queries"] = trials[0]["n_queries"]
    result["detail"] = "BENCH_DETAIL.json"
    # compact separators: keep the whole line (incl. the 50-entry
    # "queries" map) inside the driver's ~2 kB stdout tail capture
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
