"""Per-query micro-bench with repeats: stable A/B timing for a subset
of registry queries (the full bench.py run is too noisy on a busy VM to
compare single-query changes).

Usage: python tools/qbench.py [-k REPEATS] [--cold] query [query ...]
``--cold`` flushes the pin registry before every run (bench.py's cold
sweep semantics), so repeats measure full rebuilds instead of claims.
Prints per-query all-runs + min + median to stderr, one JSON line to
stdout: {"queries": {name: {"min": s, "med": s, "runs": [...]}}}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    k = 3
    cold = False
    if args and args[0] == "-k":
        k = int(args[1])
        args = args[2:]
    if args and args[0] == "--cold":
        cold = True
        args = args[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as E
    from applications_analytics_midas_hbase_metrics_spark.operators import pinning
    from applications_analytics_midas_hbase_metrics_spark.session import get_spark

    spark = get_spark(app_name="midas-qbench", cpus=cpus)
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()

    qs = {**E.queries(), **E.extra_queries()}
    unknown = [q for q in args if q not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}; known: {sorted(qs)}")

    out: dict[str, dict] = {}
    for name in args:
        runs = []
        for _ in range(k):
            if cold:
                pinning.release_all()
            t0 = time.monotonic()
            n = qs[name](spark, sf_dir).count()
            runs.append(round(time.monotonic() - t0, 3))
        out[name] = {"min": min(runs), "med": statistics.median(runs), "runs": runs}
        print(f"# {name}: {n} rows  min={min(runs)}  runs={runs}", file=sys.stderr)

    print(json.dumps({"queries": out}))


if __name__ == "__main__":
    main()
