"""Cell-store round-trip tests (SURVEY.md §5: file→cells→read-back→decode
must round-trip; the reference's file-vs-table diff as exceptAll == empty).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.functions import keys as K
from applications_analytics_midas_hbase_metrics_spark.operators import cellstore as CS
from tests.conftest import SF_CORRECT, assert_store_sorted, persistent_rdd_ids

KEY_COLS = ["l_returnflag", "l_linestatus", "l_orderkey"]
VAL_COLS = ["l_linenumber", "l_quantity", "l_extendedprice"]


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


@pytest.fixture(scope="module")
def cells(lineitem):
    return CS.to_cells(lineitem, KEY_COLS, F.col("l_partkey"), VAL_COLS)


def test_to_cells_shape(cells, lineitem):
    assert set(cells.columns) == {"row_key", "col_name", "values", "salt"}
    # group count == distinct (key, qualifier) pairs
    expected = lineitem.select(
        *(F.col(c).cast("string") for c in KEY_COLS), "l_partkey"
    ).distinct().count()
    assert cells.count() == expected


def test_write_aligned_build_matches_to_cells(cells, lineitem):
    """The single-exchange write-aligned build must produce the exact
    cell set of the canonical two-exchange form (same rows, same sorted
    values, same salt); and its physical plan must contain exactly ONE
    exchange."""
    aligned = CS.to_cells_write_aligned(
        lineitem, KEY_COLS, F.col("l_partkey"), VAL_COLS
    )
    assert aligned.columns == ["row_key", "col_name", "values", "salt"]
    assert aligned.exceptAll(cells).count() == 0
    assert cells.exceptAll(aligned).count() == 0
    plan = aligned._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_cell_values_sorted_and_complete(cells, lineitem):
    total = cells.select(F.sum(F.size("values")).alias("n")).first().n
    assert total == lineitem.count()
    bad = cells.filter(
        F.expr("values != array_sort(values)")
    ).count()
    assert bad == 0


def test_blob_encode_decode_roundtrip(cells):
    enc = cells.select("row_key", "col_name", CS.encode_blob("values").alias("blob"))
    dec = enc.select("row_key", "col_name", CS.decode_blob("blob").alias("values"))
    diff = (
        dec.join(cells.select("row_key", "col_name", "values").withColumnRenamed("values", "orig"),
                 ["row_key", "col_name"])
        .filter(F.expr("values != orig"))
        .count()
    )
    assert diff == 0
    # blob carries the leading count, reference format (Utils.scala:56)
    one = enc.first()
    count_str = one.blob.split("\x00", 1)[0]
    assert int(count_str) >= 1


def test_write_read_prefix_pushdown(cells, spark, tmp_path):
    path = str(tmp_path / "cells")
    CS.write_cells(cells, path)
    back = CS.read_cells(spark, path, prefix="A\x00F")
    assert back.count() == cells.filter(F.col("row_key").startswith("A\x00F")).count()
    assert back.count() > 0
    # the filter must be pushed to the parquet scan
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "StartsWith" in plan and "PushedFilters" in plan


def _scan_output_rows(df) -> int:
    """Run ``df`` and return the rows its Parquet scans handed upward."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    return sum(
        leaf.metrics().apply("numOutputRows").value()
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.nodeName().startswith("Scan parquet")
    )


def test_prefix_scan_reads_only_prefix_pages(spark, tmp_path):
    """Files written by ``write_cells`` (overwrite, then append) are sorted
    by (row_key, col_name), and a selective prefix scan returns exactly
    the rows of an unpushed startswith filter while its Parquet scan hands
    up under a quarter of the store: the page column index skips every
    page outside the prefix.  The salt is folded to two values, so each
    sf0.01 file spans about fifteen pages; at 24 salts a file holds two
    and skipping has little to show."""
    li = spark.read.parquet(f"{SF_CORRECT}/lineitem.parquet")
    cells = CS.to_cells(li, KEY_COLS, F.col("l_partkey"), VAL_COLS).withColumn(
        "salt", (F.col("salt") % 2).cast("tinyint")
    )
    path = str(tmp_path / "store")
    even = F.pmod(F.xxhash64("row_key"), F.lit(2)) == 0
    CS.write_cells(cells.filter(even), path, mode="overwrite")
    CS.write_cells(cells.filter(~even), path, mode="append")
    assert assert_store_sorted(path) == 4

    prefix = "A\x00F\x0012"
    store = spark.read.parquet(path)
    total = store.count()
    got = CS.read_cells(spark, path, prefix=prefix)
    unpushed = store.filter(F.col("row_key").substr(1, len(prefix)) == prefix)
    assert "StartsWith" not in unpushed._jdf.queryExecution().executedPlan().toString()
    n = unpushed.count()
    assert 0 < n < total // 20
    assert got.count() == n
    assert got.exceptAll(unpushed).count() == 0
    assert _scan_output_rows(got) < total / 4


def test_lookup_cells_is_broadcast_join(cells, spark):
    keys = cells.select("row_key", "col_name").limit(50)
    got = CS.lookup_cells(cells, keys)
    assert got.count() == 50
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_decode_cells_roundtrips_lineitem(cells, lineitem):
    decoded = CS.decode_cells(
        cells,
        key_names=KEY_COLS,
        value_names=VAL_COLS,
    ).withColumnRenamed("col_name", "l_partkey")
    orig = lineitem.select(
        *(F.col(c).cast("string").alias(c) for c in KEY_COLS),
        F.col("l_partkey").cast("string"),
        *(F.col(c).cast("string").alias(c) for c in VAL_COLS),
    )
    dec = decoded.select(*orig.columns)
    assert dec.count() == orig.count()
    assert dec.exceptAll(orig).count() == 0
    assert orig.exceptAll(dec).count() == 0


# ---------------------------------------------------------------------------
# merge_cells: CDC upsert/delete, partition-bounded rewrite
# ---------------------------------------------------------------------------


def _store_files(path):
    import glob
    import os

    return {
        f: os.stat(f).st_mtime_ns
        for f in glob.glob(f"{path}/salt=*/*.parquet")
    }


def test_merge_cells_semantics_and_partition_bound(cells, spark, tmp_path):
    """MERGE must (a) implement exact upsert/insert/delete semantics,
    (b) leave every UNTOUCHED salt partition's files byte-identical
    (same names, same mtimes — the partition-bounded-rewrite claim),
    and (c) be idempotent for a pure-upsert batch."""
    import pyspark.sql.types as T

    path = str(tmp_path / "store")
    CS.write_cells(cells, path, mode="overwrite")
    before = cells.select("row_key", "col_name", "values", "salt")
    files_before = _store_files(path)

    # batch: update 2 existing cells, insert 1 new, delete 1 existing
    sample = [
        (r.row_key, r.col_name)
        for r in cells.orderBy("row_key", "col_name").limit(3).collect()
    ]  # driver-ok: 3 rows
    (u1, u2, dele) = sample
    schema = T.StructType(
        [
            T.StructField("row_key", T.StringType()),
            T.StructField("col_name", T.StringType()),
            T.StructField("values", T.ArrayType(T.StringType())),
            T.StructField("op", T.StringType()),
        ]
    )
    batch = spark.createDataFrame(
        [
            (u1[0], u1[1], ["updated-1"], "U"),
            (u2[0], u2[1], ["updated-2a", "updated-2b"], "U"),
            ("NEWKEY\x00zz", "q1", ["inserted"], "U"),
            (dele[0], dele[1], None, "D"),
        ],
        schema,
    )
    stats = CS.merge_cells(spark, path, batch)
    assert stats["rows_written"] > 0
    assert isinstance(stats["untouched_partitions"], int)
    assert stats["untouched_partitions"] == CS.SALT_BUCKETS - len(
        stats["touched_salts"]
    )

    # (a) exact semantics vs an independently computed expectation
    got = spark.read.parquet(path).select(
        "row_key", "col_name", "values", "salt"
    )
    keys = batch.select("row_key", "col_name")
    expected = before.join(keys, ["row_key", "col_name"], "left_anti").unionByName(
        spark.createDataFrame(
            [
                (u1[0], u1[1], ["updated-1"]),
                (u2[0], u2[1], ["updated-2a", "updated-2b"]),
                ("NEWKEY\x00zz", "q1", ["inserted"]),
            ],
            "row_key string, col_name string, values array<string>",
        ).withColumn(
            "salt", K.salt_bucket(F.col("row_key"))
        )
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0

    # (b) untouched partitions: identical file names AND mtimes
    files_after = _store_files(path)
    touched = set(stats["touched_salts"])
    for f, mtime in files_before.items():
        salt_val = int(f.split("salt=")[1].split("/")[0])
        if salt_val not in touched:
            assert files_after.get(f) == mtime, f
    # ...and at least one partition really was untouched, or the claim
    # is vacuous for this batch
    untouched_on_disk = {
        int(f.split("salt=")[1].split("/")[0]) for f in files_before
    } - touched
    assert untouched_on_disk

    # (c) idempotent for the upsert subset
    stats2 = CS.merge_cells(spark, path, batch.filter(F.col("op") == "U"))
    again = spark.read.parquet(path).select(
        "row_key", "col_name", "values", "salt"
    )
    assert again.exceptAll(expected).count() == 0
    assert expected.exceptAll(again).count() == 0
    assert stats2["touched_salts"]
    # (d) merged partitions are written in the shared sorted layout
    for salt_val in stats2["touched_salts"]:
        assert_store_sorted(f"{path}/salt={salt_val}")


def test_merge_cells_fences_cached_reads(cells, spark, tmp_path):
    """A reader plan cached BEFORE the merge must not serve the
    pre-merge snapshot afterwards (refreshByPath on the way out), and
    the merge itself must not consume a stale pinned scan (refresh on
    the way in)."""
    path = str(tmp_path / "store")
    CS.write_cells(cells, path, mode="overwrite")
    pinned = spark.read.parquet(path)
    pinned.cache()
    n0 = pinned.count()

    target = cells.limit(1).collect()[0]  # driver-ok: 1 row
    batch = spark.createDataFrame(
        [(target.row_key, target.col_name, None, "D")],
        "row_key string, col_name string, values array<string>, op string",
    )
    CS.merge_cells(spark, path, batch)
    assert spark.read.parquet(path).count() == n0 - 1
    pinned.unpersist()


def test_merge_cells_delete_entire_salt(cells, spark, tmp_path):
    """Deleting EVERY cell of a salt partition removes that partition
    directory instead of writing an empty one."""
    import os

    path = str(tmp_path / "store")
    CS.write_cells(cells, path, mode="overwrite")
    some_salt = cells.select("salt").first().salt
    doomed = (
        spark.read.parquet(path)
        .filter(F.col("salt") == some_salt)
        .select("row_key", "col_name")
        .withColumn("values", F.lit(None).cast("array<string>"))
        .withColumn("op", F.lit("D"))
    )
    CS.merge_cells(spark, path, doomed)
    assert not os.path.exists(f"{path}/salt={some_salt}")
    assert (
        spark.read.parquet(path).filter(F.col("salt") == some_salt).count() == 0
    )


@pytest.mark.parametrize("crash_after_renames", [0, 1, 3])
def test_merge_cells_crash_recovery_rolls_forward(
    cells, spark, tmp_path, monkeypatch, crash_after_renames
):
    """A crash anywhere in the swap window (simulated by os.rename
    dying after N calls) must be healed by recover_cell_store to the
    FULLY MERGED state — the manifest makes roll-forward deterministic,
    including an in-flight whole-partition delete."""
    import os as _os

    path = str(tmp_path / "store")
    CS.write_cells(cells, path, mode="overwrite")
    before = cells.select("row_key", "col_name", "values", "salt")

    # batch: updates across several salts + a whole-partition delete
    doomed_salt = cells.select("salt").first().salt
    upd = (
        cells.filter(F.col("salt") != doomed_salt)
        .limit(50)
        .select(
            "row_key",
            "col_name",
            F.array(F.lit("crashed-update")).alias("values"),
            F.lit("U").alias("op"),
        )
    )
    dele = (
        cells.filter(F.col("salt") == doomed_salt)
        .select("row_key", "col_name")
        .withColumn("values", F.lit(None).cast("array<string>"))
        .withColumn("op", F.lit("D"))
    )
    batch = upd.unionByName(dele).localCheckpoint(eager=True)

    expected = (
        before.join(
            batch.select("row_key", "col_name"),
            ["row_key", "col_name"],
            "left_anti",
        )
        .unionByName(
            batch.filter(F.col("op") == "U").select(
                "row_key",
                "col_name",
                "values",
                K.salt_bucket(F.col("row_key")).alias("salt"),
            )
        )
        .localCheckpoint(eager=True)
    )

    real_rename = _os.rename
    calls = {"n": 0}

    def dying_rename(src, dst):
        if calls["n"] >= crash_after_renames:
            raise RuntimeError("simulated crash mid-swap")
        calls["n"] += 1
        return real_rename(src, dst)

    monkeypatch.setattr(_os, "rename", dying_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        CS.merge_cells(spark, path, batch)
    monkeypatch.setattr(_os, "rename", real_rename)

    # the crash left manifest + tmp (and maybe old) behind
    assert _os.path.exists(path + ".merge_manifest")
    stats = CS.recover_cell_store(path, spark)
    assert stats["rolled_forward"] > 0
    assert not _os.path.exists(path + ".merge_manifest")
    assert not _os.path.exists(path + ".merge_tmp")
    assert not _os.path.exists(path + ".merge_old")

    got = spark.read.parquet(path).select(
        "row_key", "col_name", "values", "salt"
    )
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0
    assert not _os.path.exists(f"{path}/salt={doomed_salt}")

    # idempotent: a second recover is a no-op
    assert CS.recover_cell_store(path, spark)["rolled_forward"] == 0


def test_recover_cell_store_noop_without_manifest(cells, spark, tmp_path):
    """Leftover tmp/old debris WITHOUT a manifest (pre-swap or
    post-cleanup crash) is removed and the store is untouched."""
    import os as _os

    path = str(tmp_path / "store")
    CS.write_cells(cells, path, mode="overwrite")
    n0 = spark.read.parquet(path).count()
    _os.makedirs(path + ".merge_tmp/salt=0", exist_ok=True)
    _os.makedirs(path + ".merge_old/salt=1", exist_ok=True)
    stats = CS.recover_cell_store(path, spark)
    assert stats["rolled_forward"] == 0
    assert not _os.path.exists(path + ".merge_tmp")
    assert not _os.path.exists(path + ".merge_old")
    assert spark.read.parquet(path).count() == n0



def _upsert_batch(cells, spark):
    rows = cells.limit(3).collect()  # driver-ok: 3 rows
    return spark.createDataFrame(
        [(r.row_key, r.col_name, ["leak-check"]) for r in rows],
        "row_key string, col_name string, values array<string>",
    )


def test_merge_cells_releases_change_checkpoint(cells, spark, tmp_path):
    """The change batch's localCheckpoint is released when the merge
    returns, not whenever the JVM next collects garbage: a CDC stream
    merges once per micro-batch, so a leaked checkpoint per call grows
    without bound.  Compared as RDD ids, so an unrelated RDD collected
    meanwhile cannot mask or fake a leak."""
    path = str(tmp_path / "store")
    CS.write_cells(cells, path, mode="overwrite")
    batch = _upsert_batch(cells, spark)
    before = persistent_rdd_ids(spark)
    CS.merge_cells(spark, path, batch)
    assert persistent_rdd_ids(spark) - before == set()


def test_merge_cells_releases_change_checkpoint_on_error(cells, spark, tmp_path):
    """A merge that raises after checkpointing the change batch (here:
    the store path does not exist) still releases the checkpoint."""
    from pyspark.errors import AnalysisException

    batch = _upsert_batch(cells, spark)
    before = persistent_rdd_ids(spark)
    with pytest.raises(AnalysisException):
        CS.merge_cells(spark, str(tmp_path / "no_store"), batch)
    assert persistent_rdd_ids(spark) - before == set()


def _python_eval_nodes(df) -> list[str]:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [n for n in ("ArrowEvalPython", "BatchEvalPython") if n in plan]


def test_cell_builds_run_no_python_udf(cells, lineitem, spark, tmp_path, monkeypatch):
    """The salt is computed on the JVM: neither cell builder nor the
    change batch merge_cells salts carries a Python-eval node, so a cell
    build never starts a Python worker."""
    aligned = CS.to_cells_write_aligned(
        lineitem, KEY_COLS, F.col("l_partkey"), VAL_COLS
    )
    assert _python_eval_nodes(cells) == []
    assert _python_eval_nodes(aligned) == []

    path = str(tmp_path / "store")
    CS.write_cells(cells, path, mode="overwrite")
    checkpointed = []
    frame_cls = type(cells)  # the concrete (classic) DataFrame class
    real_checkpoint = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        checkpointed.append(_python_eval_nodes(self))
        return real_checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    CS.merge_cells(spark, path, _upsert_batch(cells, spark))
    assert checkpointed == [[]]
