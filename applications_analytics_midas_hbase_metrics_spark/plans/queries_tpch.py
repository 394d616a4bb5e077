"""Classic analytic queries (TPC-H shapes) + cell versioning + chunk
dedup — oracle-checked."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import versions as VER
from .queries import register, register_extra, t
from .queries_ext import _DUP_DOCS_SQL, _dup_docs


@register(
    "cell_versions",
    oracle="""
    WITH vcells AS (
        SELECT CAST(o_custkey AS VARCHAR) AS row_key,
               o_orderstatus AS col_name,
               o_orderdate AS version_ts,
               CAST(o_orderkey AS VARCHAR) AS value
        FROM orders
    )
    SELECT row_key, col_name, version_ts, value FROM vcells
    QUALIFY row_number() OVER (PARTITION BY row_key, col_name
                               ORDER BY version_ts DESC, value DESC) <= 2
    """,
)
def q_cell_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBase VERSIONS=2 read: latest two timestamped versions per cell."""
    orders = t(spark, sf_dir, "orders")
    vcells = orders.select(
        F.col("o_custkey").cast("string").alias("row_key"),
        F.col("o_orderstatus").alias("col_name"),
        F.col("o_orderdate").alias("version_ts"),
        F.col("o_orderkey").cast("string").alias("value"),
    )
    return VER.latest_versions(vcells, k=2)


@register_extra(
    "chunk_dedup",
    oracle=f"""
    WITH corpus AS ({_DUP_DOCS_SQL}),
    chunks AS (
        SELECT doc_id AS id,
               unnest(list_transform(
                   range(0, CAST(ceil(len(tks) / 20.0) AS INT)),
                   i -> array_to_string(tks[i*20+1:i*20+20], ' '))) AS chunk
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(lower(text), '\\s+'),
                                 tk -> tk != '') AS tks
              FROM corpus)
    )
    SELECT id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN owner = id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM (SELECT id, chunk, min(id) OVER (PARTITION BY chunk) AS owner
          FROM chunks)
    GROUP BY id
    """,
)
def q_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style chunk dedup over the duplicated corpus: copies keep 0
    chunks, originals keep all of theirs."""
    corpus = _dup_docs(spark, sf_dir)
    return VER.dedupe_chunks(corpus, chunk_tokens=20)


@register_extra(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the 6-way join analytic (customer x orders x
    lineitem x supplier x nation x region) with the local-supplier
    correlation (customer and supplier share a nation).  The
    dimension chain region->nation->supplier is broadcast end-to-end —
    the fact-side lineitem/orders join is the only shuffle pair, which
    is the join order Catalyst must be allowed to keep at 100 TB (the
    date filter pushes to the orders scan, the region filter prunes
    the broadcast chain before it ships)."""
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = t(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    )
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = t(spark, sf_dir, "customer")
    li = t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
    )
    return joined.groupBy("n_name").agg(
        F.sum(rev).cast("double").alias("revenue")
    )


@register_extra(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue,
           CAST(c.c_acctbal AS DOUBLE) AS c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY 1, 2, 3, 5
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer over one
    quarter, top 20 — filter-heavy fact join + broadcast dims + TOP-n
    (TakeOrderedAndProject, never a global sort).  The returnflag and
    date predicates push to the two fact scans; customer and nation
    ride broadcasts."""
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name",
                 F.col("c_acctbal").cast("double").alias("c_acctbal"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register_extra(
    "q13_order_count_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (
        SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        FROM customer c
        LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                          AND o.o_orderpriority <> '1-URGENT'
        GROUP BY 1
    )
    GROUP BY 1
    """,
)
def q_q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by (filtered) order
    count, zero-order customers included.  Scale plan: aggregate the
    FACT side first (orders -> one row per custkey), then outer-join
    the pre-shrunk counts to customers — the outer join moves one row
    per customer instead of one row per order, and the null group
    (`c_count = 0`) falls out of the coalesce, not out of grouping a
    customer x orders row explosion."""
    counts = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n"))
    )
    cust = t(spark, sf_dir, "customer")
    return (
        cust.join(counts, cust.c_custkey == counts.o_custkey, "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
    )


@register_extra(
    "q18_large_volume_orders",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(sum(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY 1 HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 20
    """,
)
def q_q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity clears a HAVING
    threshold, enriched with customer — the group-then-semi-join
    planner shape.  The HAVING aggregate runs once and its survivor
    set (tiny by construction: the threshold is the point) is
    BROADCAST as the semi filter into the re-read fact, so the big
    lineitem table is never shuffled on a speculative key; the final
    per-order aggregate reuses the already-filtered rows and the top-n
    is TakeOrderedAndProject, never a global sort."""
    li = t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sq"))
        .filter(F.col("sq") > 300)
        .select("l_orderkey", "sq")
    )
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    return (
        li.join(
            F.broadcast(big.withColumnRenamed("l_orderkey", "bk")),
            F.col("l_orderkey") == F.col("bk"),
        )
        .join(F.broadcast(orders), F.col("l_orderkey") == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .agg(F.sum(qty).cast("double").alias("sum_qty"))
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate"), F.col("o_orderkey")
        )
        .limit(20)
    )


@register_extra(
    "q22_dormant_balances",
    oracle="""
    WITH cutoff AS (
        SELECT avg(CAST(c_acctbal AS DOUBLE)) AS avg_bal
        FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               AS totacctbal
    FROM customer c, cutoff
    WHERE CAST(c.c_acctbal AS DOUBLE) > cutoff.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY 1
    """,
)
def q_q22_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders — scalar-aggregate subquery + anti-join.  The scalar avg is
    a 1-row broadcast cross (never a driver collect); the NOT EXISTS
    is a LEFT ANTI join against the date-pruned distinct buyer set
    (the date filter pushes to the orders scan, and distinct-ing
    projects orders down to its join key before the anti shuffle)."""
    cust = t(spark, sf_dir, "customer")
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(F.avg(F.col("c_acctbal").cast("double")).alias("avg_bal"))
    )
    recent = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal").cast("double") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@register_extra(
    "q16_supplier_variety",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND l.l_suppkey NOT IN (
          SELECT s_suppkey FROM supplier WHERE s_nationkey = 0
      )
    GROUP BY 1, 2, 3
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 30
    """,
)
def q_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier variety per part attribute
    group, with a NOT-IN supplier blocklist.  The blocklist rewrites
    to a broadcast LEFT ANTI (safe here: s_suppkey is non-null by
    schema, so NOT IN == anti-join); part attributes ride a broadcast
    into the fact scan, and the count(DISTINCT) is Spark's two-phase
    partial-distinct expand, not a per-group set collect."""
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    blocked = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 0)
        .select("s_suppkey")
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(blocked), li.l_suppkey == blocked.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand"),
            F.col("p_type"),
            F.col("p_size"),
        )
        .limit(30)
    )


@register_extra(
    "q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
)
def q_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation PAIR by year —
    the disjunctive cross-nation predicate.  Both nation filters push
    into their dimension scans BEFORE the broadcast (each side ships
    only the two named nations' suppliers/customers), so the OR-pair
    predicate evaluates over an already-pruned join, never as a
    post-hoc filter on the full fact x dims product."""
    nations = ("NATION_1", "NATION_2")
    n1 = t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    supp = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    n2 = t(spark, sf_dir, "nation").filter(F.col("n_name").isin(*nations))
    cust = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register_extra(
    "q4_order_priority",
    oracle="""
    SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS over the fact table — orders with at
    least one line shipped >=30 days after the order date (the
    testdata has no l_commitdate/l_receiptdate, so lateness is
    shipdate-vs-orderdate; the planner shape — a LEFT SEMI join with
    an equi key plus a non-equi residual — is the point).  The date
    window pushes into the orders scan; the semi join shuffles both
    sides on l_orderkey, which at 100 TB co-partitions with every
    other orderkey join in the workload."""
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            li,
            (orders.o_orderkey == li.l_orderkey)
            & (li.l_shipdate >= orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register_extra(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the pure scan-aggregate — zero joins, one exchange
    (the single-row global agg), and EVERY predicate (date range,
    discount band, quantity cap) must reach the parquet scan as a
    pushed filter.  At 100 TB this is the query where row-group
    min/max pruning does all the work; the plan gate pins the pushed
    range predicates."""
    li = t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast(
        "decimal(18,4)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.08)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register_extra(
    "q14_promo_effect",
    oracle="""
    SELECT round(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                     THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                          * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                 6) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    """,
)
def q_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for one ship month.  The part
    dimension rides broadcast into the fact scan (never a shuffle of
    lineitem on partkey for a ratio over one month); both sums come
    out of ONE aggregate pass in exact decimal, and only the final
    ratio is double (rounded to 6 — hash-stable across engines)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast(
                    "double"
                )
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register_extra(
    "q2_min_cost_supplier",
    oracle="""
    WITH offer AS (
        SELECT l.l_partkey, l.l_suppkey, min(l.l_extendedprice) AS price
        FROM lineitem l GROUP BY 1, 2
    ), best AS (
        SELECT l_partkey, min(price) AS min_price FROM offer GROUP BY 1
    )
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_brand,
           o.price AS min_price
    FROM offer o
    JOIN best b ON o.l_partkey = b.l_partkey AND o.price = b.min_price
    JOIN part p ON p.p_partkey = o.l_partkey
    JOIN supplier s ON s.s_suppkey = o.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size = 15 AND r.r_name = 'EUROPE'
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey, s.s_suppkey
    LIMIT 25
    """,
)
def q_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: the group-wise MIN join-back (the correlated
    "cost = (SELECT min ...)" subquery) — the testdata has no
    partsupp, so the offer table is each supplier's best observed
    lineitem price per part.  The per-part min re-aggregates the
    already part-keyed offer table and rides BROADCAST back onto it
    (the min table is one row per part — always dimension-sized);
    every dimension (part, supplier, nation, region) is a broadcast
    too, so the only shuffle is the offer aggregation itself.  min()
    over raw doubles involves no arithmetic, so the join-back equality
    is exact on both engines."""
    li = t(spark, sf_dir, "lineitem")
    offer = li.groupBy(
        F.col("l_partkey"), F.col("l_suppkey")
    ).agg(F.min("l_extendedprice").alias("price"))
    best = offer.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("price").alias("min_price")
    )
    part = t(spark, sf_dir, "part").filter(F.col("p_size") == 15)
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    return (
        offer.join(
            F.broadcast(best),
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("price") == F.col("min_price")),
        )
        .join(F.broadcast(part), offer.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), offer.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
            F.col("price").alias("min_price"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
        .limit(25)
        .drop("s_suppkey")
    )


@register_extra(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1997-04-01'
        GROUP BY 1
    )
    SELECT s.s_suppkey, s.s_name, n.n_name,
           CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM revenue r
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE r.total_rev = (SELECT max(total_rev) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) hitting the quarter's MAX revenue —
    the scalar-subquery-on-a-derived-view shape.  The revenue view is
    computed ONCE and self-joined against its own 1-row max (exact
    decimal equality — never double); the max rides a broadcast, so
    the view is not re-scanned shuffled.  Supplier and nation are
    broadcast dims."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    revenue = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_rev"))
    best = revenue.agg(F.max("total_rev").alias("max_rev"))
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    return (
        revenue.join(F.broadcast(best), revenue.total_rev == best.max_rev)
        .join(F.broadcast(supp), revenue.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@register_extra(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 / 7.0, 6) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, avg(l_quantity) AS avg_qty
          FROM lineitem GROUP BY 1) a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND l.l_quantity < 0.5 * a.avg_qty
    """,
)
def q_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: the correlated per-part AVG subquery — decorrelated
    into a pre-aggregate joined back onto the fact scan.  The per-part
    avg table is one row per part (dimension-sized) and rides
    BROADCAST; quantities are integer-valued doubles, so sum/count —
    and therefore the 0.5*avg threshold — is EXACT in any summation
    order on both engines.  Only the final /7 ratio is rounded."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(avg_qty), li.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double")
                / 7.0,
                6,
            ).alias("avg_yearly")
        )
    )


@register_extra(
    "q19_discounted_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
               AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: the three-way DISJUNCTION of conjunctive predicates
    spanning both join sides.  The partkey equi-join survives as a
    BROADCAST hash join with the OR residual evaluated post-match —
    never a nested-loop over the disjunction; the part side is
    pre-filtered to the union of the three brand/size envelopes
    (derivable because every disjunct constrains brand+size), so the
    broadcast ships only candidate parts."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
        )
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 25))
    )
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 20)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register_extra(
    "q8_market_share",
    oracle="""
    SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
           round(CAST(sum(CASE WHEN n2.n_name = 'NATION_5'
                    THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
                 6) AS mkt_share
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
    JOIN region r ON n1.n_regionkey = r.r_regionkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's market share inside one region's demand
    for one part type, by year.  The seven-table join is ONE fact scan
    plus six broadcast dims (region filter pre-applied to the
    customer-nation chain BEFORE broadcast, part type pre-filtered);
    numerator and denominator come out of a single conditional-agg
    pass in exact decimal — only the final share is double (rounded
    to 6, hash-stable)."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = t(spark, sf_dir, "nation")
    cust = (
        t(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == n1.n_nationkey)
        .join(F.broadcast(region), n1.n_regionkey == F.col("r_regionkey"))
        .select("c_custkey")
    )
    n2 = t(spark, sf_dir, "nation")
    supp = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), F.col("s_nationkey") == n2.n_nationkey)
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@register(
    # the heaviest TPC-H planner shape (6-table join + per-part reorder)
    "q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                    - CAST(p.p_retailprice AS DECIMAL(18,2)) * 0.01
                      * CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_profit
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year over a
    part-name pattern (no partsupp in the testdata, so unit cost is
    1% of p_retailprice — the plan shape, a five-table star with a
    LIKE-filtered part dim, is the point).  Part/supplier/nation ride
    broadcast; orders joins on the co-partitioned orderkey; profit is
    exact decimal until the final cast."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    ) - F.col("p_retailprice").cast("decimal(18,2)") * F.lit(0.01).cast(
        "decimal(3,2)"
    ) * F.col("l_quantity").cast("decimal(18,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@register_extra(
    "q11_important_parts",
    oracle="""
    WITH vals AS (
        SELECT l.l_partkey,
               sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey = 3
        GROUP BY 1
    )
    SELECT l_partkey, CAST(value AS DOUBLE) AS value
    FROM vals
    WHERE value * (SELECT count(*) FROM vals)
          > (SELECT 2 * sum(value) FROM vals)
    ORDER BY value DESC, l_partkey
    """,
)
def q_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose value exceeds a threshold derived
    from the GLOBAL aggregate — the scalar-subquery HAVING (no
    partsupp, so value is one nation's shipped extendedprice per
    part).  The threshold is SCALE-INVARIANT (value above 2x the mean
    part value — a fixed fraction of the total goes empty as the part
    count grows 10x) and DIVISION-FREE (value * n_parts > 2 * total:
    exact decimal x bigint on both engines, so no row can flip on a
    rounding boundary).  The per-part aggregate is computed ONCE; its
    own re-aggregated 1-row (total, count) rides back as a broadcast
    nested-loop (cross) join — never a second scan of the fact
    table."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") == 3)
    vals = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("value"))
    )
    total = vals.agg(
        F.sum("value").alias("total_value"),
        F.count("*").cast("bigint").alias("n_parts"),
    )
    return (
        vals.join(F.broadcast(total))
        .filter(F.col("value") * F.col("n_parts") > 2 * F.col("total_value"))
        .select("l_partkey", F.col("value").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "l_partkey")
    )


@register_extra(
    "q20_promo_suppliers",
    oracle="""
    SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_type = 'PROMO'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01'
        GROUP BY 1
        HAVING sum(l.l_quantity) > 300
    )
    ORDER BY s.s_name
    """,
)
def q_q20_promo_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN over an aggregate-derived key set (no
    partsupp, so the inner query is "shipped >300 units of PROMO
    parts this year" instead of availqty-vs-half-demand).  The inner
    HAVING survivor set is supplier-keyed — always dimension-sized —
    and rides back as a BROADCAST LEFT SEMI onto the supplier dim;
    quantity sums are exact (integer-valued doubles)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    part = t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    keys = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
    )
    supp = t(spark, sf_dir, "supplier")
    return (
        supp.join(F.broadcast(keys), supp.s_suppkey == keys.l_suppkey, "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
        .orderBy("s_name")
    )


@register(
    "q21_lone_returner",
    oracle="""
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
          SELECT 1 FROM lineitem l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
          SELECT 1 FROM lineitem l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_returnflag = 'R'
      )
    GROUP BY 1
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q_q21_lone_returner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS + NOT-EXISTS pair of correlated
    self-joins on the fact table (no receipt/commit dates, so the
    blame predicate is "this supplier's line was the order's ONLY
    return in a multi-supplier order").  Both subqueries plan as
    orderkey-equi SEMI/ANTI joins with the supplier-inequality as the
    residual — all three lineitem sides shuffle on the SAME orderkey,
    so at 100 TB they co-partition into one exchange lineage; the
    supplier dim rides broadcast, and the top-20 is a TakeOrdered,
    never a global sort."""
    li = t(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R")
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    supp = t(spark, sf_dir, "supplier")
    return (
        l1.join(
            l2,
            (l1.l_orderkey == F.col("k2")) & (l1.l_suppkey != F.col("s2")),
            "left_semi",
        )
        .join(
            l3,
            (l1.l_orderkey == F.col("k3")) & (l1.l_suppkey != F.col("s3")),
            "left_anti",
        )
        .join(F.broadcast(supp), l1.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )
