"""Analytics-surface queries beyond the reference: as-of join, skew-salted
aggregation, rollup, interval join, gap-fill, debounce, anomalies, EWMA.
All oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import joins as J
from .queries import register, register_extra, t


# ---------------------------------------------------------------------------
# As-of join: each click joined to the user's most recent prior error
# ---------------------------------------------------------------------------


@register(
    "asof_join",
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
    ), errors AS (
        SELECT user_id, ts, event_id AS err_id, value AS err_value
        FROM events WHERE event_type = 'error'
    )
    SELECT c.user_id, c.event_id,
           e.err_id AS right_err_id,
           e.err_value AS right_err_value
    FROM clicks c ASOF LEFT JOIN errors e
      ON c.user_id = e.user_id AND c.ts >= e.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.col("event_id").alias("err_id"),
        F.col("value").alias("err_value"),
    )
    out = J.asof_join(
        clicks,
        errors,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_payload=["err_id", "err_value"],
        how="left",
    )
    return out.select("user_id", "event_id", "right_err_id", "right_err_value")


# ---------------------------------------------------------------------------
# Skew-salted two-phase aggregation (result == plain groupBy)
# ---------------------------------------------------------------------------


@register(
    "skew_salted_agg",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
           max(l_quantity) AS qty_max
    FROM lineitem GROUP BY 1, 2
    """,
)
def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = t(spark, sf_dir, "lineitem")
    out = J.salted_agg(
        li,
        keys=["l_returnflag", "l_linestatus"],
        aggs={
            "n": ("count", F.lit(1)),
            "price_sum": ("sum", F.col("l_extendedprice").cast("decimal(18,2)")),
            "qty_max": ("max", F.col("l_quantity")),
        },
        buckets=16,
    )
    return out.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").cast("bigint").alias("n"),
        F.col("price_sum").cast("double").alias("price_sum"),
        "qty_max",
    )


# ---------------------------------------------------------------------------
# Rollup (subtotals + grand total)
# ---------------------------------------------------------------------------


@register(
    "rollup_revenue",
    oracle="""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
    ).join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    return (
        joined.rollup(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").cast("bigint").alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("acctbal_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Interval (range containment) join: events inside maintenance windows
# ---------------------------------------------------------------------------

#: epoch seconds of 2024-01-01 00:00:00 UTC — the fixture events' month
_IJ_BASE = 1704067200
#: 100 deterministic "maintenance windows": window i covers
#: [base + i*7h, base + i*7h + 90min] — 1.5h spans cross the 1h bucket
#: grid, so the bucket-expansion path is genuinely exercised
_IJ_N, _IJ_STEP, _IJ_SPAN = 100, 7 * 3600, 5400


@register(
    "interval_join_events",
    oracle=f"""
    WITH iv AS (
        SELECT CAST(k AS INT) AS window_id,
               {_IJ_BASE} + k * {_IJ_STEP} AS lo,
               {_IJ_BASE} + k * {_IJ_STEP} + {_IJ_SPAN} AS hi
        FROM (SELECT unnest(range(0, {_IJ_N})) AS k)
    )
    SELECT iv.window_id,
           CAST(count(e.event_id) AS BIGINT) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS value_sum
    FROM iv LEFT JOIN (
        -- floor(): Spark's unix_timestamp truncates sub-second parts,
        -- DuckDB's double->bigint cast rounds — floor matches truncate
        -- (a boundary-adjacent event would otherwise flip windows)
        SELECT event_id, value, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events
    ) e ON e.t >= iv.lo AND e.t <= iv.hi
    GROUP BY 1
    """,
)
def q_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-containment join under the gate: 100 synthetic maintenance
    windows against the events stream via operators.joins.interval_join
    — the bucket-expansion EQUI-join (intervals explode into the 1-hour
    slots they touch; each point lives in exactly one slot, so pairs
    emit once).  The DuckDB oracle uses its native range join; Spark
    never executes a nested-loop or cartesian plan.  Left join back to
    the window table keeps empty windows in the result (containment
    joins drop them)."""
    ev = t(spark, sf_dir, "events").select(
        "event_id", "value", F.unix_timestamp("ts").alias("t")
    )
    iv = spark.range(_IJ_N).select(
        F.col("id").cast("int").alias("window_id"),
        (F.lit(_IJ_BASE) + F.col("id") * _IJ_STEP).alias("lo"),
        (F.lit(_IJ_BASE) + F.col("id") * _IJ_STEP + _IJ_SPAN).alias("hi"),
    )
    joined = J.interval_join(ev, iv, t_col="t", lo_col="lo", hi_col="hi", bucket=3600)
    counts = joined.groupBy("window_id").agg(
        F.count("event_id").cast("bigint").alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
    )
    return (
        iv.select("window_id")
        .join(counts, "window_id", "left")
        .select(
            "window_id",
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias("n_events"),
            "value_sum",
        )
    )


@register_extra(
    "gapfill_hourly",
    oracle="""
    WITH o AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
               round(avg(value), 6) AS v,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT user_id, min(hour) AS mn, max(hour) AS mx
          FROM o GROUP BY 1),
    s AS (SELECT user_id, unnest(generate_series(mn, mx)) AS hour FROM b),
    j AS (SELECT s.user_id, s.hour, o.v, coalesce(o.n_obs, 0) AS n_obs
          FROM s LEFT JOIN o USING (user_id, hour))
    SELECT user_id, hour, n_obs,
           last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_filled
    FROM j
    """,
)
def q_gapfill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization (operators.timeseries.gapfill_forward):
    per-user hourly mean event value densified over each user's
    [first, last] hour with forward fill — the resample/ffill pass a
    metric pipeline applies before rate math.  ~90% of output rows are
    generated gap rows (105k out vs 10k events at sf0.01), so the
    differential exercises spine generation, the left join, and the
    running last-non-null window, not just the aggregate.  The hourly
    mean is rounded BEFORE the fill on both engines, so carried values
    stay byte-identical."""
    from ..operators import timeseries as TS

    ev = t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "user_id",
        (F.unix_timestamp("ts").cast("bigint") / F.lit(3600))
        .cast("bigint")
        .alias("hour"),
    ).agg(
        F.round(F.avg("value"), 6).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )
    return TS.gapfill_forward(
        obs, key_col="user_id", bucket_col="hour", value_col="v",
        count_col="n_obs",
    ).select("user_id", "hour", "n_obs", F.col("v_filled"))


@register_extra(
    "event_debounce",
    oracle="""
    WITH d AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(epoch(ts)) OVER w IS NULL
                         OR epoch(ts) - lag(epoch(ts)) OVER w > 7200
                    THEN 1 ELSE 0 END AS start
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    i AS (
        SELECT user_id, ts,
               sum(start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS island
        FROM d
    )
    SELECT user_id, min(ts) AS burst_start, max(ts) AS burst_end,
           CAST(count(*) AS BIGINT) AS n_events
    FROM i GROUP BY user_id, island
    """,
)
def q_event_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst collapse (operators.timeseries.debounce_bursts): per-user
    event runs closer than 2 h apart fold into one burst row (start,
    end, size) — the gaps-and-islands debounce telemetry applies to
    retry storms before rate metrics.  ~17% of inter-event gaps at
    sf0.01 are under the threshold, so the differential sees real
    multi-event bursts, singleton bursts, and the per-key first-row
    boundary."""
    from ..operators import timeseries as TS

    ev = t(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    return TS.debounce_bursts(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        gap_seconds=7200,
        order_cols=["event_id"],
    )


@register_extra(
    "hourly_anomalies",
    oracle="""
    WITH o AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
               round(avg(value), 6) AS v,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT user_id, min(hour) AS mn, max(hour) AS mx
          FROM o GROUP BY 1),
    s AS (SELECT user_id, unnest(generate_series(mn, mx)) AS hour FROM b),
    j AS (SELECT s.user_id, s.hour, o.v, coalesce(o.n_obs, 0) AS n_obs
          FROM s LEFT JOIN o USING (user_id, hour)),
    fill AS (
        SELECT user_id, hour, n_obs,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS vf
        FROM j
    ),
    stats AS (
        SELECT user_id, hour, n_obs, vf,
               avg(vf) OVER (PARTITION BY user_id) AS mu,
               stddev_samp(vf) OVER (PARTITION BY user_id) AS sd
        FROM fill
    )
    SELECT user_id, hour, round(vf, 6) AS v,
           round((vf - mu) / sd, 4) AS z
    FROM stats
    WHERE n_obs > 0 AND sd > 1e-9 AND abs((vf - mu) / sd) > 2.5
    """,
)
def q_hourly_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly flags over the regularized series — the composition gate
    for gapfill_forward: observed hours whose filled-series z-score
    (vs the user's own spine-wide mean/stddev) exceeds 2.5.  Composing
    through the gap-fill matters: the spine-weighted baseline weights a
    carried value by how LONG it persisted, which is the
    time-weighted baseline a raw per-observation average gets wrong."""
    from pyspark.sql import Window

    from ..operators import timeseries as TS

    ev = t(spark, sf_dir, "events")
    obs = ev.groupBy(
        "user_id",
        (F.unix_timestamp("ts").cast("bigint") / F.lit(3600))
        .cast("bigint")
        .alias("hour"),
    ).agg(
        F.round(F.avg("value"), 6).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_obs"),
    )
    filled = TS.gapfill_forward(
        obs, key_col="user_id", bucket_col="hour", value_col="v",
        count_col="n_obs",
    )
    wu = Window.partitionBy("user_id")
    stats = filled.select(
        "user_id",
        "hour",
        "n_obs",
        F.col("v_filled").alias("vf"),
        F.avg("v_filled").over(wu).alias("mu"),
        F.stddev_samp("v_filled").over(wu).alias("sd"),
    )
    z = (F.col("vf") - F.col("mu")) / F.col("sd")
    return stats.filter(
        (F.col("n_obs") > 0) & (F.col("sd") > 1e-9) & (F.abs(z) > 2.5)
    ).select(
        "user_id",
        "hour",
        F.round("vf", 6).alias("v"),
        F.round(z, 4).alias("z"),
    )


@register_extra(
    "ewma_user_value",
    oracle="""
    WITH h AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
               CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
                   AS xq
        FROM events GROUP BY 1, 2
    ),
    w AS (
        SELECT user_id, hour, xq,
               list(xq) OVER (PARTITION BY user_id ORDER BY hour
                   ROWS BETWEEN 11 PRECEDING AND CURRENT ROW) AS vals
        FROM h
    )
    SELECT user_id, hour, xq,
           CAST(len(vals) AS BIGINT) AS n_obs,
           round(list_sum(list_transform(vals,
                     (v, i) -> v * (CAST(1 AS BIGINT)
                               << (12 - len(vals) + i - 1))))
                 / (((CAST(1 AS BIGINT) << 12)
                     - (CAST(1 AS BIGINT) << (12 - len(vals))))
                    * 100.0), 6) AS ewma
    FROM w
    """,
)
def q_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay smoothing (operators.timeseries.ewma_smooth): EWMA
    with decay 1/2 over each user's trailing 12 hourly value sums.
    The cent quantization, the bigint dyadic-weight fold and the final
    single division replay exactly in DuckDB (indexed list_transform,
    1-based there vs Spark's 0-based transform — the exponent
    arithmetic accounts for it), so the smoothed series is under the
    hash bit-for-bit."""
    from ..operators.timeseries import ewma_smooth

    ev = t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("bigint")
        .alias("xq")
    )
    return ewma_smooth(
        hourly, key_col="user_id", order_col="hour", value_cents="xq",
        window_rows=12,
    )
