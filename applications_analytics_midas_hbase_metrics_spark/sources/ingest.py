"""Ingestion parsers — the reference's file readers re-expressed as
declarative scans (SURVEY.md §2.1, §3.2).

Covers (citations into /root/reference):
  * MUPR fixed-schema \\x00-separated CSV (Utils.scala:154-174): explicit
    11-field StructType, inference disabled.
  * MUCR variable-arity positional lines (Utils.scala:486-536): 6 fixed
    fields then ``number_of_counters`` repeating (counter_id, occurrences,
    seq_num) triples.  The reference parses with a typed Dataset.map; here
    the whole parse is built-in higher-order functions (split → slice →
    transform → explode) so it stays in whole-stage codegen — no Python
    worker in the hot path.  The reference's Test_Name/columnName bug at
    Utils.scala:555 (AnalysisException on the MUCR path) is fixed: the
    qualifier is ``pass_fail_flg ++ hex(len(counter_id)) ++ counter_id``
    (Utils.scala:546-547).
  * Trigger/metadata enrichment (Utils.scala:575-605, 686-810): the
    reference collects one matching row to the driver and stamps it with
    lit(); at 2000 files/batch that is 2000 tiny Spark jobs.  Here it is
    ONE broadcast hash join — the reference's own comment says "metadata
    file can be converted into a broadcast variable" (Utils.scala:181, 589).
  * Null-byte → comma CSV conversion (Utils.scala:273-286) as a
    DataFrame transform.
  * Properties-file config + JDBC reader parametrized like
    getTeradataDataframe (Utils.scala:812-849).
"""

from __future__ import annotations

import configparser
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..functions.keys import DELIM

#: Exact MUPR schema (Utils.scala:160-170) — same fields, types, nullability.
MUPR_SCHEMA = StructType(
    [
        StructField("Unit_Testing_Seq_Key", IntegerType(), False),
        StructField("Substructure_ID", StringType(), False),
        StructField("Sub_Session_Seq_Num", IntegerType(), True),
        StructField("Test_Result_Order_Num", IntegerType(), False),
        StructField("Test_Result_Array_Seq_Num", FloatType(), True),
        StructField("Test_ID", IntegerType(), True),
        StructField("Measurement_Value", FloatType(), True),
        StructField("Active_Inactive_Core_Vector", StringType(), True),
        StructField("Pass_Fail_Core_Vector", StringType(), False),
        StructField("Mask_Vector", StringType(), False),
        StructField("Test_Name", StringType(), False),
    ]
)

#: MUCR fixed prefix (Utils.scala:521-522), all strings at parse time.
MUCR_FIXED = [
    "Unit_Testing_Seq_Key",
    "Sub_Session_Seq_Num",
    "Test_Program_Name",
    "unit_counter_pass_fail_flg",
    "Substructure_ID",
    "number_of_counters",
]


def read_mupr(
    spark: SparkSession, path: str, keep_corrupt: bool = False
) -> DataFrame:
    """MUPR scan: explicit schema, \\x00 separator, no inference
    (Utils.scala:173-174).

    ``keep_corrupt=True`` adds a ``_corrupt_record`` column (PERMISSIVE
    mode): malformed rows — wrong arity, unparseable numerics — land
    there with all schema fields null instead of failing the job, so a
    100 TB ingest quantifies its bad rows rather than dying on them."""
    if not keep_corrupt:
        return spark.read.csv(path, schema=MUPR_SCHEMA, sep=DELIM)
    schema = StructType(
        MUPR_SCHEMA.fields + [StructField("_corrupt_record", StringType(), True)]
    )
    return spark.read.csv(
        path,
        schema=schema,
        sep=DELIM,
        mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    )


def read_trigger(spark: SparkSession, path: str) -> DataFrame:
    """Trigger/metadata CSV: header + inferSchema + the corrective int cast
    the reference layers on top (Utils.scala:182-183, 590-597)."""
    df = spark.read.csv(path, header=True, inferSchema=True)
    if "Lato_Start_WW" in df.columns:
        df = df.withColumn("Lato_Start_WW", F.col("Lato_Start_WW").cast("int"))
    return df


def read_mucr(spark: SparkSession, path: str) -> DataFrame:
    """MUCR file scan + variable-arity parse (Utils.scala:486-536)."""
    return parse_mucr_lines(spark.read.text(path))


def parse_mucr_lines(lines: DataFrame) -> DataFrame:
    """MUCR variable-arity parse of a text frame's ``value`` column, fully
    JVM-side.

    Reference algorithm (Utils.scala:504-536): split the line on \\x00,
    take 6 fixed fields, then re-group the tail in strides of 3 as
    ``(Unit_Counter_ID, hex(len(counter_id)), Repeating_Counter_Occurrences,
    Unit_Counter_Seq_Num)``, explode to one row per counter.

    Here: three-arg split (trailing-empty safe) → ``transform(sequence(...))``
    builds the struct array → ``explode``.  Malformed rows where the tail
    length disagrees with ``number_of_counters`` are dropped
    (the reference would throw, SURVEY.md hard part #5).
    """
    parts = F.split(F.col("value"), DELIM, -1)
    df = lines.select(
        *[parts.getItem(i).alias(n) for i, n in enumerate(MUCR_FIXED)],
        F.slice(parts, len(MUCR_FIXED) + 1, F.size(parts) - len(MUCR_FIXED)).alias(
            "_tail"
        ),
    )
    n = F.col("number_of_counters").cast("int")
    valid = df.filter(n.isNotNull() & (F.size("_tail") >= n * 3))
    counters = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.struct(
            F.element_at("_tail", i * 3 + 1).alias("Unit_Counter_ID"),
            F.lower(F.hex(F.length(F.element_at("_tail", i * 3 + 1)))).alias(
                "counter_id_len_hex"
            ),
            F.element_at("_tail", i * 3 + 2).alias("Repeating_Counter_Occurrences"),
            F.element_at("_tail", i * 3 + 3).alias("Unit_Counter_Seq_Num"),
        ),
    )
    exploded = valid.filter(n > 0).select(
        *MUCR_FIXED, F.explode(counters).alias("_c")
    )
    return exploded.select(
        *MUCR_FIXED,
        F.col("_c.Unit_Counter_ID").alias("Unit_Counter_ID"),
        F.col("_c.counter_id_len_hex").alias("counter_id_len_hex"),
        F.col("_c.Repeating_Counter_Occurrences").alias(
            "Repeating_Counter_Occurrences"
        ),
        F.col("_c.Unit_Counter_Seq_Num").alias("Unit_Counter_Seq_Num"),
    )


def mucr_column_qualifier() -> F.Column:
    """MUCR cell qualifier: ``pass_fail_flg ++ hex(len(counter_id)) ++
    counter_id`` (Utils.scala:546-547) — fixing the reference's broken
    Test_Name projection at Utils.scala:555."""
    return F.concat(
        F.col("unit_counter_pass_fail_flg"),
        F.col("counter_id_len_hex"),
        F.col("Unit_Counter_ID"),
    )


def enrich_with_metadata(data: DataFrame, trigger: DataFrame) -> DataFrame:
    """Metadata enrichment as ONE broadcast left join on ``File_Name``
    (J1) instead of the reference's per-file collect-and-lit
    (Utils.scala:188-197, 575-605, 686-810): stamps the trigger's
    ``Lot``, ``Lato_Start_WW`` and ``Lots_seq_key``, where present.

    At 100 TB the data side never shuffles: the trigger table (~2000 rows
    per batch, Utils.scala:689-690) broadcasts to every executor.
    """
    fields = ("Lot", "Lato_Start_WW", "Lots_seq_key")
    meta = trigger.select("File_Name", *[f for f in fields if f in trigger.columns])
    return data.join(F.broadcast(meta), on="File_Name", how="left")


def nullbyte_to_csv(df: DataFrame, add_header_row: bool = False) -> DataFrame:
    """convertFileToCSV parity (Utils.scala:273-286): translate \\x00 → ","
    on a text DataFrame; optionally prepend the synthetic 0..199 header."""
    out = df.select(F.translate("value", DELIM, ",").alias("value"))
    if add_header_row:
        spark = df.sparkSession
        header = spark.createDataFrame(
            [(",".join(str(i) for i in range(200)),)], "value string"
        )
        out = header.union(out)
    return out


def read_jdbc(
    spark: SparkSession,
    config_path: str,
    query: str,
    section: str = "jdbc",
) -> DataFrame:
    """JDBC scan parametrized from a properties/ini file, the
    getTeradataDataframe shape (Utils.scala:812-837): the query is pushed
    down as a dbtable subquery, so filtering happens source-side.

    Executable against any JDBC source on the classpath (tested against
    embedded Derby); config problems and unreachable sources raise a
    RuntimeError naming the url instead of a bare driver stack."""
    cfg = read_properties(config_path, section)
    if "url" not in cfg:
        raise ValueError(
            f"JDBC config {config_path!r} is missing the required 'url' key"
        )
    reader = (
        spark.read.format("jdbc")
        .option("url", cfg["url"])
        .option("dbtable", f"({query}) q")
    )
    # only forward options actually present — an empty driver class name
    # would override Spark's url-based driver resolution
    for key in ("driver", "user", "password"):
        if cfg.get(key):
            reader = reader.option(key, cfg[key])
    try:
        return reader.load()
    except Exception as exc:
        raise RuntimeError(
            f"JDBC read failed for url {cfg['url']!r} "
            f"(driver={cfg.get('driver', '<from url>')!r}): {exc}"
        ) from exc


def read_properties(path: str, section: str = "jdbc") -> dict[str, str]:
    """Properties-file reader (Configurations().properties,
    Utils.scala:814-819).  Accepts both ini-with-sections and bare
    ``k=v`` lines."""
    cp = configparser.ConfigParser()
    try:
        cp.read(path)
        if section in cp:
            return dict(cp[section])
    except configparser.MissingSectionHeaderError:
        pass
    out: dict[str, str] = {}
    with open(path) as fh:
        for line in fh:
            line = line.strip()
            if line and not line.startswith("#") and "=" in line:
                k, v = line.split("=", 1)
                out[k.strip()] = v.strip()
    return out


def parse_kv_details(col: F.Column | str, keys: Sequence[str]) -> F.Column:
    """getColumnsUDF parity without a UDF (Utils.scala:112-115): parse
    ``["k=v", ...]`` array items into a map and project the wanted keys
    as a struct."""
    c = F.col(col) if isinstance(col, str) else col
    m = F.map_from_entries(
        F.transform(
            c,
            lambda kv: F.struct(
                F.substring_index(kv, "=", 1).alias("key"),
                F.substring_index(kv, "=", -1).alias("value"),
            ),
        )
    )
    return F.struct(*[m.getItem(k).alias(k) for k in keys])


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType,
    keep_corrupt: bool = False,
) -> DataFrame:
    """JSON-lines scan with an EXPLICIT schema — the same no-inference
    discipline as :func:`read_mupr` (extension surface; the reference's
    readers stop at CSV/text/JDBC).

    Inference is disabled for the same reason it is on the MUPR path:
    at 100 TB, schema inference is a full extra pass over the data and
    yields a schema that drifts with the sample; a declared schema also
    lets the scan prune unreferenced top-level fields at the parser.

    ``keep_corrupt=True`` adds a ``_corrupt_record`` column (PERMISSIVE
    mode): malformed lines — broken JSON, arity/type mismatches that
    fail the whole row — land there with all schema fields null, so an
    ingest quantifies its bad rows instead of dying on them."""
    if not keep_corrupt:
        return spark.read.schema(schema).json(path)
    full = StructType(
        schema.fields + [StructField("_corrupt_record", StringType(), True)]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )


def read_orc(
    spark: SparkSession, path: str, columns: Sequence[str] | None = None
) -> DataFrame:
    """ORC scan (extension surface, same contract as the parquet cell
    reads): columnar projection and predicate pushdown reach the ORC
    reader exactly as they do parquet — a deployment migrating between
    the two formats keeps every plan property.  ``columns`` prunes at
    the scan."""
    df = spark.read.orc(path)
    return df.select(*columns) if columns else df
