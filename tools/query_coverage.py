"""Per-query package line coverage, for pruning the extra tier.

Usage:
  python tools/query_coverage.py run OUT.json [query ...]
  python tools/query_coverage.py select A.json [B.json ...]
  python tools/query_coverage.py union A.json [B.json ...]

``run`` executes each query (default: every query of both tiers) cold at
$SF_DIR (required: the directory of the test tables): ``pinning.release_all()``, then ``fn(spark, sf_dir).collect()``
under ``sys.settrace``/``threading.settrace`` filtered to package files.
It writes, per query, the ``(file, line)`` pairs reached, the source span
of its registered builder, and the Python-UDF nodes of its executed plan
(Python workers are not traced).

``select`` takes the union of several ``run`` files (one per scale) and
prints each extra-tier query whose lines outside its own span are all
reached by some gated query, with the UDF nodes its plan runs.
``union`` prints the number of package lines all queries reach.
"""

from __future__ import annotations

import inspect
import json
import os
import re
import sys
import threading

# the checkout this script lives in, so a second checkout measures its own code
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
PKG = os.path.join(REPO, "applications_analytics_midas_hbase_metrics_spark") + os.sep
UDF_NODE = re.compile(r"(?:ArrowEvalPython|BatchEvalPython|\w*InPandas\w*) .*")


def run(out: str, names: list[str]) -> None:
    from applications_analytics_midas_hbase_metrics_spark.operators import pinning
    from applications_analytics_midas_hbase_metrics_spark.session import get_spark
    import __spark_entry__ as E

    sf_dir = os.environ["SF_DIR"]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(app_name="query_coverage", cpus=cpus)
    gated, extra = E.queries(), E.extra_queries()
    qs = {**gated, **extra}
    result = {"sf_dir": sf_dir, "gated": list(gated), "queries": {}}
    for name in names or list(qs):
        hits: set[tuple[str, int]] = set()

        def local(frame, event, arg):
            if event == "line":
                hits.add((frame.f_code.co_filename, frame.f_lineno))
            return local

        def glob(frame, event, arg):
            return local if frame.f_code.co_filename.startswith(PKG) else None

        pinning.release_all()
        error, plan = None, ""
        threading.settrace(glob)
        sys.settrace(glob)
        try:
            df = qs[name](spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 - report and continue
            error = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            sys.settrace(None)
            threading.settrace(None)
        src, start = inspect.getsourcelines(qs[name].__wrapped__)
        file = inspect.getsourcefile(qs[name].__wrapped__)
        result["queries"][name] = {
            "lines": sorted([os.path.relpath(f, REPO), n] for f, n in hits),
            "span": [os.path.relpath(file, REPO), start, start + len(src) - 1],
            # expression ids masked, so the same UDF compares equal across plans
            "udfs": sorted({re.sub(r"#[0-9]+L?", "", m)[:120] for m in UDF_NODE.findall(plan)}),
            "error": error,
        }
        print(f"{name}: {len(hits)} lines{' ERROR ' + error if error else ''}", flush=True)
    pinning.release_all()
    with open(out, "w") as fh:
        json.dump(result, fh)


def _load(paths: list[str]) -> tuple[list[str], dict]:
    merged: dict = {}
    gated: list[str] = []
    for p in paths:
        with open(p) as fh:
            r = json.load(fh)
        gated = gated or r["gated"]
        for name, q in r["queries"].items():
            m = merged.setdefault(name, {"lines": set(), "span": q["span"], "udfs": set()})
            m["lines"] |= {tuple(x) for x in q["lines"]}
            m["udfs"] |= set(q["udfs"])
            if q["error"]:
                sys.exit(f"{p}: {name} failed: {q['error']}")
    return gated, merged


def select(paths: list[str]) -> None:
    gated, qs = _load(paths)
    covered = set().union(*(qs[g]["lines"] for g in gated))
    gated_udfs = set().union(*(qs[g]["udfs"] for g in gated))
    for name, q in qs.items():
        if name in gated:
            continue
        f, a, b = q["span"]
        own = {(f, n) for n in range(a, b + 1)}
        if q["lines"] - own <= covered:
            udfs = sorted(q["udfs"] - gated_udfs)
            print(name, "UDF-ONLY-HERE: " + "; ".join(udfs) if udfs else "")


def union(paths: list[str]) -> None:
    _, qs = _load(paths)
    print(len(set().union(*(q["lines"] for q in qs.values()))))


if __name__ == "__main__":
    cmd, args = sys.argv[1], sys.argv[2:]
    if cmd == "run":
        run(args[0], args[1:])
    elif cmd == "select":
        select(args)
    elif cmd == "union":
        union(args)
    else:
        sys.exit(__doc__)
