"""Cell versioning + store compaction — the HBase-semantics tier the
cell model still owed (HBase keeps N timestamped versions per cell and
compacts store files).

  * latest_versions: VERSIONS=k retention as a ranking window.
  * chunk-level dedup (CCNet-style): drop duplicated token chunks across
    a corpus, keeping the lowest-id owner — the paragraph-dedup shape
    used by training-data pipelines.
  * compact_cells: rewrite the salted store as one file per salt in the
    store's sorted, page-indexed layout — the page column index then
    prunes prefix scans like HBase block-index seeks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.keys import SALT_BUCKETS
from .cellstore import _write_layout
from .dedup import tokens


def latest_versions(
    cells: DataFrame,
    k: int = 1,
    version_col: str = "version_ts",
) -> DataFrame:
    """Keep the newest ``k`` versions per (row_key, col_name) — HBase
    ``VERSIONS=k`` read semantics.  Ties (same timestamp) break on value
    so the result is deterministic."""
    w = Window.partitionBy("row_key", "col_name").orderBy(
        F.col(version_col).desc(), F.col("value").desc()
    )
    return (
        cells.withColumn("_v", F.row_number().over(w))
        .filter(F.col("_v") <= k)
        .drop("_v")
    )


def dedupe_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 20,
) -> DataFrame:
    """CCNet-style chunk dedup: split each document into fixed-size token
    chunks, drop every chunk instance whose exact content appears in an
    earlier document (min id wins), report per-doc retention.

    Returns (id, n_chunks, n_kept).  One explode + one partial-
    aggregating owner table + one equi-join on the chunk — at corpus
    scale the shuffle key is the chunk content (hash it upstream for a
    64-bit key if chunk text is wide).  The owner is min(id) per chunk
    via groupBy, NOT a per-chunk window: a heavily repeated chunk is
    this operator's TARGET workload (boilerplate paragraphs), and a
    window would funnel all of its instances through one task, while
    the aggregation merges map-side and the join back is AQE
    skew-splittable (the round-11/12 keep-first rule, SCALE.md)."""
    # token array hoisted into its own projection: an inline
    # tokens(text) inside the slice lambda would re-tokenize the whole
    # document per chunk position (the O(tokens^2) HOF trap, SCALE.md
    # round-12 addendum 4)
    toked = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        tokens(text_col).alias("_toks"),
    )
    toks = F.col("_toks")
    n_chunks = F.ceil(F.size(toks) / chunk_tokens).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.array_join(F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "),
    )
    # sequence(0, -1) DESCENDS in Spark; empty docs must yield no chunks
    chunks = F.when(n_chunks > 0, chunks).otherwise(F.array().cast("array<string>"))
    exploded = toked.select("id", F.explode(chunks).alias("chunk"))
    owners = exploded.groupBy("chunk").agg(F.min("id").alias("_owner"))
    flagged = exploded.join(owners, "chunk")
    return (
        flagged.groupBy("id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum(F.when(F.col("_owner") == F.col("id"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_kept"),
        )
    )


def compact_cells(spark: SparkSession, in_path: str, out_path: str) -> None:
    """Compaction: rewrite the cell store with one file per salt
    partition, in the layout every store writer shares
    (``cellstore._write_layout``): sorted by (row_key, col_name) in
    pages whose column index lets a prefix scan skip the pages outside
    the prefix, the way HBase skips blocks.  One file per bucket removes
    the small-file tax of incremental loads."""
    cells = spark.read.parquet(in_path)
    _write_layout(
        cells.repartition(SALT_BUCKETS, F.col("salt")), out_path, "overwrite"
    )
