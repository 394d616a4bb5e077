"""Local differential harness replicating the driver's t2 check:
run every queries()[name] on Spark and oracle_sql()[name] on DuckDB at
sf0.01, compare row count, column names, and an order-insensitive value
hash (values stringified, row-wise sorted).

Usage: python tools/check_correctness.py [--sample-mod=N] [query ...]

--sample-mod=N scopes the corpus tables (documents, embeddings) to
id % N == 0 on BOTH sides — the Spark loader (via MIDAS_SAMPLE_MOD,
plans/queries.py) and the DuckDB views here — so the quadratic
brute-force oracles (dedup_minhash, dedup_incremental, simhash_pairs,
…) get a minutes-scale differential check at SF_DIR=/root/testdata/
sf0.1 instead of the 10-20 min full-corpus run.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

# the checkout this script lives in, so a second checkout checks its own code
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # round-trip-stable float repr; tolerate tiny fp drift via 12 sig digits
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(cols: list[str], rows: list[tuple]) -> tuple[int, str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm_cell(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(rows), h


def main() -> int:
    import duckdb

    # single source of truth with the Spark loader's sampling hook — a
    # third corpus table added there is automatically sampled on BOTH
    # sides here, never just one
    from applications_analytics_midas_hbase_metrics_spark.plans.queries import (
        _SAMPLE_ID_COLS as SAMPLE_ID_COLS,
    )

    args = sys.argv[1:]
    sample_mod = None
    for a in list(args):
        if a.startswith("--sample-mod="):
            sample_mod = int(a.split("=", 1)[1])
            args.remove(a)
    if sample_mod:
        # must be set BEFORE any query runs: plans.queries.t() reads it
        os.environ["MIDAS_SAMPLE_MOD"] = str(sample_mod)

    import __spark_entry__ as E
    from applications_analytics_midas_hbase_metrics_spark.session import get_spark

    spark = get_spark(app_name="correctness", cpus=8)
    con = duckdb.connect()
    for t in TABLES:
        src = f"SELECT * FROM '{SF_DIR}/{t}.parquet'"
        if sample_mod and t in SAMPLE_ID_COLS:
            src += f" WHERE {SAMPLE_ID_COLS[t]} % {sample_mod} = 0"
        con.execute(f"CREATE VIEW {t} AS {src}")

    # cover BOTH tiers locally: the driver gates queries(); the extra
    # (pytest-tier) queries get the identical differential check here
    qs, oracles = E.queries(), E.oracle_sql()
    qs.update(E.extra_queries())
    oracles.update(E.extra_oracle_sql())
    only = set(args)
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.monotonic()
        try:
            sdf = fn(spark, SF_DIR)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"rows-only  {name}: {len(s_rows)} rows ({time.monotonic()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            d_cols = [d[0] for d in res.description]
            d_rows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        n_s, h_s = frame_hash(s_cols, s_rows)
        n_d, h_d = frame_hash(d_cols, d_rows)
        cols_ok = sorted(s_cols) == sorted(d_cols)
        status = "OK   " if (n_s == n_d and h_s == h_d and cols_ok) else "FAIL "
        if status.startswith("FAIL"):
            failures += 1
        print(
            f"{status} {name}: spark {n_s} rows/{h_s}  duck {n_d} rows/{h_d}"
            f"  cols={'ok' if cols_ok else f'{sorted(s_cols)} vs {sorted(d_cols)}'}"
            f"  ({time.monotonic()-t0:.1f}s)"
        )
        if status.startswith("FAIL") and n_s == n_d and cols_ok:
            # show a sample diff to debug value mismatches
            order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
            order_d = sorted(range(len(d_cols)), key=lambda i: d_cols[i])
            ls = sorted("\x01".join(norm_cell(r[i]) for i in order_s) for r in s_rows)
            ld = sorted("\x01".join(norm_cell(r[i]) for i in order_d) for r in d_rows)
            for a, b in zip(ls, ld):
                if a != b:
                    print(f"   spark: {a[:160]!r}")
                    print(f"   duck : {b[:160]!r}")
                    break
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
