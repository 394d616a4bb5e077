"""Reshaping queries: z-order layout, unpivot, grouping sets."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import register_extra, t


def _zorder_sql(bits: int = 8) -> str:
    """Unrolled Morton-interleave SQL over (x, y) — the DuckDB replay of
    operators.layout.zorder_value's literal-shift expression."""
    terms = []
    for i in range(bits):
        terms.append(f"((x >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((y >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register_extra(
    "zorder_layout",
    oracle=f"""
    WITH d AS (
        SELECT user_id % 256 AS x,
               (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 256 AS y
        FROM events
    ),
    z AS (SELECT x, y, CAST({_zorder_sql()} AS BIGINT) AS zv FROM d)
    SELECT zv // 256 AS zbucket,
           CAST(count(*) AS BIGINT) AS n,
           min(x) AS x_min, max(x) AS x_max,
           min(y) AS y_min, max(y) AS y_max
    FROM z GROUP BY 1
    """,
)
def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout statistics (operators.layout.zorder_value): events
    keyed by (user bucket, hour bucket), Morton-interleaved, then
    rolled up per 256-value z-range — the per-file min/max stats a
    z-ordered write would expose to the scan pruner.  The differential
    pins the interleave bit-exactly (every zbucket's population and
    both dimensions' min/max); the bounded x/y ranges per bucket ARE
    the data-skipping property, visible in the output: a filter on
    EITHER dimension prunes most buckets."""
    from ..operators.layout import zorder_value

    # hour bucket in integer MICROSECONDS (the epoch() trap): a double ts/3600.0 division can
    # round UP across an hour boundary for epochs just under a
    # multiple of 3600 (quotient ulp ~1e-10 at this magnitude) while
    # the oracle's integer floor(epoch)//3600 cannot — integer div on
    # both sides makes the bucket exact
    ev = t(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(256)).cast("bigint").alias("x"),
        F.pmod(
            F.expr("unix_micros(ts) div 3600000000"),
            F.lit(256),
        ).cast("bigint").alias("y"),
    )
    z = ev.select("x", "y", zorder_value(["x", "y"], bits=8).alias("zv"))
    return z.groupBy((F.col("zv") / F.lit(256)).cast("bigint").alias("zbucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("x").alias("x_min"),
        F.max("x").alias("x_max"),
        F.min("y").alias("y_min"),
        F.max("y").alias("y_max"),
    )


_UNPIVOT_METRICS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register_extra(
    "unpivot_metrics",
    oracle="""
    WITH m AS (
        """
    + "\n        UNION ALL ".join(
        f"SELECT l_returnflag, '{c}' AS metric, {c} AS value FROM lineitem"
        for c in _UNPIVOT_METRICS
    )
    + """
    )
    SELECT l_returnflag, metric,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(count(*) AS BIGINT) AS n
    FROM m GROUP BY 1, 2
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (the pivot's inverse): four lineitem
    measure columns melt into (metric, value) rows via
    ``DataFrame.unpivot`` — ONE ``Expand`` operator in-plan (each input
    row emits its 4 long rows map-side, no join, no shuffle before the
    partial aggregate), never a self-union of 4 scans.  The per-
    (returnflag, metric) totals sum as DECIMAL(18,2) — exact, order-
    independent — then cast to double, the same determinism recipe as
    every money aggregate here; the oracle replays the melt as a
    UNION ALL."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.unpivot(
            ["l_returnflag"],
            list(_UNPIVOT_METRICS),
            "metric",
            "value",
        )
        .groupBy("l_returnflag", "metric")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )


@register_extra(
    "grouping_sets_events",
    oracle="""
    SELECT event_type, CAST(user_id % 10 AS BIGINT) AS user_bucket,
           CAST(grouping(event_type) * 2
                + grouping(user_id % 10) AS BIGINT) AS gid,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY GROUPING SETS ((event_type, user_id % 10), (event_type), ())
    """,
)
def q_grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit mixed GROUPING SETS (the shape rollup/cube can't
    express: a detail set, one partial set, and the grand total but NO
    (user_bucket)-only set) with grouping_id disambiguating the NULL
    groups — one Expand over one scan, exactly like rollup/cube/
    unpivot, never a UNION of three aggregations.  Totals sum as
    exact DECIMAL before the double cast."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.select(
            "event_type",
            (F.col("user_id") % 10).alias("user_bucket"),
            F.col("value").cast("decimal(18,2)").alias("v"),
        )
        .groupingSets(
            [["event_type", "user_bucket"], ["event_type"], []],
            "event_type",
            "user_bucket",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("v").cast("double").alias("total"),
        )
    )
