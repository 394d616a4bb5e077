"""Dump ``explain("formatted")`` for named queries to plans/$PLANS_ROUND/.

Usage: PLANS_ROUND=r16 python tools/dump_plans.py <suffix> [query ...]

Writes plans/<round>/<query>_<suffix>.txt for each query (suffix: "before"
or "after"); an absolute $PLANS_ROUND is used as the output directory.
Queries are built at $SF_DIR (default: the sf0.1 test tables) — building
the frame runs any driver-side preparation the query does (bounded
collects, index builds) but does NOT execute the final plan.  Streaming
queries (no classic batch plan) are skipped with a note.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

# the checkout this script lives in, so a second checkout dumps its own plans
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(REPO, "plans", os.environ.get("PLANS_ROUND", "r16"))


def main() -> int:
    suffix = sys.argv[1]
    names = sys.argv[2:]
    os.makedirs(OUT_DIR, exist_ok=True)

    from applications_analytics_midas_hbase_metrics_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark(app_name=f"dump_plans_{suffix}", cpus=8)
    qs = {**E.queries(), **E.extra_queries()}
    from applications_analytics_midas_hbase_metrics_spark.operators import pinning

    for name in names:
        pinning.release_all()
        try:
            df = qs[name](spark, SF_DIR)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            text = buf.getvalue()
        except Exception as exc:  # noqa: BLE001 - report and continue
            text = f"(no batch plan: {type(exc).__name__}: {exc})\n"
        path = os.path.join(OUT_DIR, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} — explain('formatted') at {SF_DIR} ({suffix})\n")
            fh.write(text)
        print(f"wrote {path} ({len(text)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
