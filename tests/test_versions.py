"""Cell versioning, chunk dedup, and compaction tests."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.operators import cellstore as CS
from applications_analytics_midas_hbase_metrics_spark.operators import versions as VER
from tests.conftest import assert_store_sorted


def test_latest_versions(spark):
    rows = [
        ("k1", "c", "2024-01-01", "v1"),
        ("k1", "c", "2024-01-02", "v2"),
        ("k1", "c", "2024-01-03", "v3"),
        ("k2", "c", "2024-01-01", "w1"),
    ]
    cells = spark.createDataFrame(
        rows, ["row_key", "col_name", "version_ts", "value"]
    ).withColumn("version_ts", F.to_timestamp("version_ts"))
    got = {(r.row_key, r.value) for r in VER.latest_versions(cells, k=2).collect()}
    assert got == {("k1", "v3"), ("k1", "v2"), ("k2", "w1")}
    one = {(r.row_key, r.value) for r in VER.latest_versions(cells, k=1).collect()}
    assert one == {("k1", "v3"), ("k2", "w1")}


def test_dedupe_chunks_ownership(spark):
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(40))),   # 2 chunks, owner
            (2, " ".join(f"w{i}" for i in range(40))),   # exact copy -> keeps 0
            (3, " ".join(f"x{i}" for i in range(20))),   # unique -> keeps all
            (4, ""),                                      # empty -> no rows
        ],
        ["doc_id", "text"],
    )
    got = {r.id: (r.n_chunks, r.n_kept) for r in VER.dedupe_chunks(docs).collect()}
    assert got == {1: (2, 2), 2: (2, 0), 3: (1, 1)}


def test_compact_cells_layout_and_pruning(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cells = CS.to_cells(
        li, ["l_returnflag", "l_linestatus", "l_orderkey"],
        F.col("l_partkey"), ["l_linenumber"],
    )
    raw = str(tmp_path / "raw")
    compacted = str(tmp_path / "compacted")
    # simulate incremental loads: many small files per partition
    CS.write_cells(cells.repartition(8), raw)
    VER.compact_cells(spark, raw, compacted)

    # one file per salt partition after compaction
    for d in glob.glob(compacted + "/salt=*"):
        files = glob.glob(d + "/part-*")
        assert len(files) == 1, d
    # content unchanged
    a = spark.read.parquet(raw).select("row_key", "col_name", "values")
    b = spark.read.parquet(compacted).select("row_key", "col_name", "values")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # every compacted file is sorted by (row_key, col_name), so its page
    # column index has tight row_key bounds and prefix scans skip pages
    assert assert_store_sorted(compacted) == len(glob.glob(compacted + "/salt=*"))
