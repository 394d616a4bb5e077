"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All query logic lives in
``applications_analytics_midas_hbase_metrics_spark.plans.queries``; this file is the thin
driver-facing wrapper.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from applications_analytics_midas_hbase_metrics_spark.plans import queries as Q

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 minimum slice): the group-concat cell
    build over lineitem at sf0.001."""
    return Q.QUERIES["cell_build"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ extensions).

    Exactly 50 entries — the driver's correctness gate records the first
    50 registration-order rows, so every entry here gets a driver-green
    row.  Queries whose operator coverage is subsumed by another gated
    entry live in :func:`extra_queries` (pytest-verified tier).

    Query families that share a materialized intermediate through the
    registry's keyed deferred-persist (plans/queries.py) are reordered
    to run back-to-back: pins survive exactly one query entry, so
    adjacency is what lets a family member claim its sibling's cached
    frame instead of rebuilding the subplan — the cell family shares the
    lineitem cell build, the dedup family the minhash pair table and the
    connected-components labels.  The SET of gated queries is unchanged."""
    chains = {
        # after this query ...         ... pull these up next
        "cell_lookup": ["validation_diff"],
        "dedup_minhash": ["dedup_corpus", "dedup_best_quality"],
    }
    pulled = {c for cs in chains.values() for c in cs}
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, fn in Q.QUERIES.items():
        if name in pulled:
            continue
        out[name] = fn
        for c in chains.get(name, ()):
            out[c] = Q.QUERIES[c]
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; keys omitted here get the weaker
    rows-only check (non-SQL-expressible ops)."""
    return dict(Q.ORACLES)


def extra_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Supported queries beyond the 50 driver-gated ones — same contract,
    verified by tests/test_registry.py and tools/check_correctness.py."""
    return dict(Q.EXTRA_QUERIES)


def extra_oracle_sql() -> dict[str, str]:
    """Oracles for :func:`extra_queries`."""
    return dict(Q.EXTRA_ORACLES)
