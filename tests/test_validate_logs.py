"""Validation join + log extraction tests (SURVEY.md §2.4 J3, §2.7 F7)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.operators import logs as L
from applications_analytics_midas_hbase_metrics_spark.operators import validate as V


@pytest.fixture(scope="module")
def file_table(spark):
    file_df = spark.createDataFrame(
        [("k1", "c1", "v1"), ("k1", "c2", "v2"), ("k2", "c1", "v3"), ("k3", "c1", "v4")],
        ["row_key", "col_name", "values"],
    )
    table_df = spark.createDataFrame(
        [("k1", "c1", "v1"), ("k1", "c2", "DIFFERENT"), ("k2", "c1", "v3"), ("k9", "c1", "ghost")],
        ["row_key", "col_name", "values"],
    )
    return file_df, table_df


def test_compare_cells_verdicts(file_table):
    file_df, table_df = file_table
    diff = V.compare_cells(file_df, table_df)
    got = {(r.row_key, r.col_name): r.verdict for r in diff.collect()}
    assert got[("k1", "c1")] == V.MATCH
    assert got[("k1", "c2")] == V.MISMATCH
    assert got[("k2", "c1")] == V.MATCH
    assert got[("k3", "c1")] == V.MISSING_IN_TABLE
    assert got[("k9", "c1")] == V.MISSING_IN_FILE


def test_validation_summary_counts(file_table):
    diff = V.compare_cells(*file_table)
    s = {r.verdict: r.n for r in V.validation_summary(diff).collect()}
    assert s == {V.MATCH: 2, V.MISMATCH: 1, V.MISSING_IN_TABLE: 1, V.MISSING_IN_FILE: 1}


def test_compare_cells_null_value_both_sides_is_match(spark):
    # A cell whose VALUE is null on both sides is present on both sides
    # → match, never "missing": missing means row-absent (presence
    # markers), not value-null.
    file_df = spark.createDataFrame(
        [("k1", "c1", None), ("k2", "c1", None)],
        "row_key string, col_name string, values string",
    )
    table_df = spark.createDataFrame(
        [("k1", "c1", None), ("k2", "c1", "v")],
        "row_key string, col_name string, values string",
    )
    got = {
        (r.row_key, r.col_name): r.verdict
        for r in V.compare_cells(file_df, table_df).collect()
    }
    assert got[("k1", "c1")] == V.MATCH
    assert got[("k2", "c1")] == V.MISMATCH


LOG_LINES = [
    "26/08/13 01:00:00 INFO Client: starting",
    "26/08/13 01:00:05 INFO Client: the spark submit job is successful for 12345678 with code 90",
    "26/08/13 01:00:06 INFO Client: the spark submit job is failed for 87654321 with exit 255",
    "26/08/13 01:00:07 INFO Client: unrelated successful thing",
]


def test_extract_job_status(spark):
    df = spark.createDataFrame([(l,) for l in LOG_LINES], ["value"])
    rows = L.extract_job_status(df).orderBy("job_seq_key").collect()
    assert len(rows) == 2
    ok, bad = rows
    assert (ok.job_seq_key, ok.job_status) == ("12345678", "successful")
    assert ok.exit_code == "90"
    assert (bad.job_seq_key, bad.job_status, bad.exit_code) == ("87654321", "failed", "255")


def test_extract_job_status_missing_defaults(spark):
    df = spark.createDataFrame(
        [("the spark submit job is successful but keyless",)], ["value"]
    )
    r = L.extract_job_status(df).first()
    assert r.job_seq_key == L.MISSING_KEY
    assert r.job_status == "successful"
    assert r.exit_code == L.MISSING_EXIT


def test_timestamped_log_name(spark):
    df = spark.createDataFrame([("2024-03-05 07:08:09",)], ["ts"]).withColumn(
        "ts", F.to_timestamp("ts")
    )
    r = L.timestamped_log_name(df, prefix="runTestRunner").first()
    assert r.log_name == "runTestRunner_2024-03-05-7_08_09"


def test_job_status_scan_prefix(spark):
    cells = spark.createDataFrame(
        [
            ("IF12345678\x00x", "LOADSTATUS", "OK"),
            ("IF12345678\x00x", "IRRELEVANT", "no"),
            ("IF99999999\x00y", "LOADSTATUS", "OK"),
        ],
        ["row_key", "col_name", "values"],
    )
    got = L.job_status_scan(cells, "12345678").collect()
    assert len(got) == 1 and got[0].col_name == "LOADSTATUS"
