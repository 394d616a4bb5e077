"""Ops/log analytics — spark-submit log scraping as DataFrame ops
(SURVEY.md §2.7 F7, §3.1; reference MetricDetails.scala:21-64).

The reference reads the log with a driver-side BufferedSource and walks it
imperatively; here the log is a text DataFrame and the extraction is three
``regexp_extract`` columns, so a day of logs across a cluster is the same
one-liner as a single file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: The reference's regexes (MetricDetails.scala:30-51).
JOB_KEY_RE = "([0-9]{6,12})"
STATUS_PHRASE_RE = r"(spark submit job is \w+)"
EXIT_CODE_RE = "([a-zA-Z]{4,5} [0-9]{1,3})"

MISSING_KEY = "Missing Job Sequence Key"
MISSING_STATUS = "Missing Status"
MISSING_EXIT = "Missing Exit Code"


def extract_job_status(log_df: DataFrame, line_col: str = "value") -> DataFrame:
    """Filter the status lines and extract (job_seq_key, job_status,
    exit_code) with "Missing …" defaults, exactly the MetricDetails.main
    flow (MetricDetails.scala:27-51) minus the driver loop.
    """
    line = F.col(line_col)
    relevant = log_df.filter(
        line.contains("spark submit job is ")
        & (line.contains("successful") | line.contains("failed"))
    )

    def _extract(pattern: str, group: int, default: str) -> F.Column:
        got = F.regexp_extract(line, pattern, group)
        return F.when(got == "", F.lit(default)).otherwise(got)

    status_word = F.regexp_extract(line, STATUS_PHRASE_RE, 1)
    return relevant.select(
        _extract(JOB_KEY_RE, 1, MISSING_KEY).alias("job_seq_key"),
        F.when(status_word == "", F.lit(MISSING_STATUS))
        .otherwise(F.element_at(F.split(status_word, " "), -1))
        .alias("job_status"),
        F.when(F.regexp_extract(line, EXIT_CODE_RE, 1) == "", F.lit(MISSING_EXIT))
        .otherwise(
            F.element_at(F.split(F.regexp_extract(line, EXIT_CODE_RE, 1), " "), -1)
        )
        .alias("exit_code"),
    )


def timestamped_log_name(df: DataFrame, prefix: str = "testlog", ts_col: str = "ts") -> DataFrame:
    """Log-file naming with the reference's timestamp format
    ``yyyy-MM-dd-H_mm_ss`` (Utils.scala:646) as a column op."""
    return df.withColumn(
        "log_name",
        F.concat(
            F.lit(prefix + "_"), F.date_format(F.col(ts_col), "yyyy-MM-dd-H_mm_ss")
        ),
    )


def job_status_scan(cells: DataFrame, job_seq_key: str) -> DataFrame:
    """The MDS_METRIC prefix scan (MetricDetails.scala:99-117): row keys
    ``IF{job_seq_key}…``, projected status qualifiers.  On the Parquet cell
    store the prefix predicate is pushed to the page column index of the
    row_key-sorted files."""
    qualifiers = [
        "LATO_START_WW",
        "LOT",
        "LOT_SEQ_KEY",
        "START_DATE",
        "END_DATE",
        "LOADSTATUS",
        "FILENAME",
        "MESSAGE",
    ]
    return cells.filter(
        F.col("row_key").startswith(f"IF{job_seq_key}")
        & F.col("col_name").isin(qualifiers)
    )
