"""Shared fixtures: one SparkSession per test run (local mode), paths to
the driver's synthetic tables (TESTDATA.md)."""

from __future__ import annotations

import os

import pytest

from applications_analytics_midas_hbase_metrics_spark.operators import pinning
from applications_analytics_midas_hbase_metrics_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="midas-tests", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(autouse=True)
def _release_pins():
    """Every test leaves no live pin behind (operators/pinning.py), so
    a pin one test makes never outlives it."""
    yield
    pinning.release_all()


def persistent_rdd_ids(spark) -> set[int]:
    """Ids of the RDDs the SparkContext holds persistent right now."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next())
    return ids


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def assert_store_sorted(path: str) -> int:
    """Assert every data file of a cell store is sorted by
    ``(row_key, col_name)`` — the layout all store writers share.
    Returns the number of files checked."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    assert files, path
    for f in files:
        t = pq.read_table(f, columns=["row_key", "col_name"])
        keys = list(zip(t["row_key"].to_pylist(), t["col_name"].to_pylist()))
        assert keys == sorted(keys), f
    return len(files)


def final_plan(df) -> str:
    """Materialize the DataFrame so AQE finishes re-planning, then return
    the final physical plan string."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
