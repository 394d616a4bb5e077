"""End-to-end pipelines — the reference's entry-point flows as single
functions (SURVEY.md §3).  A user of the reference maps:

  MUPR_fileToDataFrame + pushtoDB      → ingest_mupr_to_store
  MUCR_fileToDataFrame + pushtoDB      → ingest_mucr_to_store
  haseTableToDataFrame + runTestRunner → validate_load
  MetricDetails.main                   → job_status_report

Each is a composition of the operator modules; nothing here collects to
the driver except the final summary counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import cellstore as CS
from ..operators import logs as LOGS
from ..operators import validate as V
from ..sources import ingest as I

#: MUPR cell mapping (Utils.scala:203-219): key = Lot/WW/seq/unit-seq
#: (MUCR cells share it, Utils.scala:548-551),
#: qualifier = Test_Name, value = the 8 measurement fields in the
#: reference's exact positional order (Utils.scala:203-211) so the
#: \x00-joined blob round-trips against reference-written data.
MUPR_KEY_COLS = ("Lot", "Lato_Start_WW", "Lots_seq_key", "Unit_Testing_Seq_Key")
MUPR_VALUE_COLS = (
    "Measurement_Value",
    "Substructure_ID",
    "Test_Result_Order_Num",
    "Sub_Session_Seq_Num",
    "Active_Inactive_Core_Vector",
    "Pass_Fail_Core_Vector",
    "Mask_Vector",
    "Test_Result_Array_Seq_Num",
)


def _enriched(spark: SparkSession, data: DataFrame, trig_path: str) -> DataFrame:
    """Stamp each parsed row with its source file's name and join the
    trigger metadata onto it — the collect-and-stamp of Utils.scala:188-197
    as one broadcast join."""
    data = data.withColumn(
        "File_Name", F.element_at(F.split(F.input_file_name(), "/"), -1)
    )
    return I.enrich_with_metadata(data, I.read_trigger(spark, trig_path))


def _mupr_cells(spark: SparkSession, data_path: str, trig_path: str) -> DataFrame:
    """The MUPR cell build (Utils.scala:154-236) that ingest and
    validation share."""
    return CS.to_cells(
        _enriched(spark, I.read_mupr(spark, data_path), trig_path),
        key_cols=list(MUPR_KEY_COLS),
        col_name=F.col("Test_Name"),
        value_cols=list(MUPR_VALUE_COLS),
    )


def ingest_mupr_to_store(
    spark: SparkSession,
    data_path: str,
    trig_path: str,
    store_path: str,
    mode: str = "append",
) -> DataFrame:
    """File → parse → enrich → cells → salted store; returns the cell
    DataFrame (already written).  The reference's MUPR flow
    (Utils.scala:154-236 + 49-80) with the collect-and-stamp replaced by
    a broadcast join."""
    cells = _mupr_cells(spark, data_path, trig_path)
    CS.write_cells(cells, store_path, mode=mode)
    return cells


def ingest_mucr_to_store(
    spark: SparkSession,
    data_path: str,
    trig_path: str,
    store_path: str,
    mode: str = "append",
) -> DataFrame:
    """MUCR flow (Utils.scala:486-572): variable-arity parse, metadata
    enrichment, qualifier = flg+hex(len)+counter_id (the reference's
    intended qualifier — its Test_Name projection at Utils.scala:555
    would throw)."""
    cells = CS.to_cells(
        _enriched(spark, I.read_mucr(spark, data_path), trig_path),
        key_cols=list(MUPR_KEY_COLS),
        col_name=I.mucr_column_qualifier(),
        # reference blob layout (Utils.scala:551): Unit_Counter_Seq_Num,
        # Substructure_ID, Repeating_Counter_Occurrences — in that order
        value_cols=[
            "Unit_Counter_Seq_Num",
            "Substructure_ID",
            "Repeating_Counter_Occurrences",
        ],
    )
    CS.write_cells(cells, store_path, mode=mode)
    return cells


def validate_load(
    spark: SparkSession,
    data_path: str,
    trig_path: str,
    store_path: str,
) -> DataFrame:
    """runTestRunner (Utils.scala:643-655): rebuild the file-side cells,
    read the store back, full-outer diff, return verdict counts."""
    file_cells = _mupr_cells(spark, data_path, trig_path)
    store_cells = CS.read_cells(spark, store_path)
    diff = V.compare_cells(file_cells, store_cells)
    return V.validation_summary(diff)


def job_status_report(
    spark: SparkSession, log_path: str, status_cells: DataFrame
) -> DataFrame:
    """MetricDetails.main (MetricDetails.scala:66-154): scrape the
    spark-submit log, prefix-scan the status table for each extracted
    job key — as one join instead of a driver loop."""
    jobs = LOGS.extract_job_status(spark.read.text(log_path))
    keyed = status_cells.withColumn(
        "job_seq_key",
        F.regexp_extract(F.col("row_key"), "^IF([0-9]+)", 1),
    )
    return jobs.join(keyed, "job_seq_key", "left").select(
        "job_seq_key", "job_status", "exit_code", "col_name", "value"
    )
