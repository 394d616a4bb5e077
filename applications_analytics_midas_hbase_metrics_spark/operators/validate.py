"""Load validation — the reference's file-vs-table comparison harness as
first-class joins (SURVEY.md §2.4 J3, §5).

The reference materializes two frames with twin column families —
``fileRowKey/fileColumnName/fileValue`` (Utils.scala:234) vs
``tableRowKey/tableColumnName/tableValue`` (Utils.scala:338-341) — and the
``runTestRunner`` stub (Utils.scala:643-655) orchestrates a compareType-
driven diff.  Here that is one full-outer join on (row_key, col_name)
with null-safe equality, shuffle-on-key (or broadcast when one side is
small) — no driver collects, scales to any size.  The verdict column
carries every view the reference derived: missing in table (the load
dropped a cell), missing in file (a cell with no source), match and
mismatch (loaded cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Per-cell verdicts.
MATCH = "match"
MISMATCH = "mismatch"
MISSING_IN_TABLE = "missing_in_table"
MISSING_IN_FILE = "missing_in_file"


def compare_cells(
    file_df: DataFrame,
    table_df: DataFrame,
    value_col: str = "values",
) -> DataFrame:
    """Full-outer diff of the file-derived vs store-derived cells.

    Returns one row per key with ``file_value``, ``table_value`` and a
    ``verdict`` column.  "Missing" is decided by ROW PRESENCE (explicit
    marker columns carried through the full-outer join), not value
    nullness — so a cell whose value is NULL on both sides is a
    ``match`` (null-safe ``<=>`` compare), and a genuinely NULL value is
    never conflated with an absent row."""
    on = ["row_key", "col_name"]
    f = file_df.select(
        *on, F.col(value_col).alias("file_value"), F.lit(True).alias("_in_file")
    )
    t = table_df.select(
        *on, F.col(value_col).alias("table_value"), F.lit(True).alias("_in_table")
    )
    joined = f.join(t, on=on, how="full_outer")
    verdict = (
        F.when(F.col("_in_file").isNull(), F.lit(MISSING_IN_FILE))
        .when(F.col("_in_table").isNull(), F.lit(MISSING_IN_TABLE))
        .when(F.col("file_value").eqNullSafe(F.col("table_value")), F.lit(MATCH))
        .otherwise(F.lit(MISMATCH))
    )
    return joined.withColumn("verdict", verdict).drop("_in_file", "_in_table")


def validation_summary(diff: DataFrame) -> DataFrame:
    """result_metric-style counts (Utils.scala:47): one row per verdict."""
    return diff.groupBy("verdict").agg(F.count("*").alias("n")).orderBy("verdict")

