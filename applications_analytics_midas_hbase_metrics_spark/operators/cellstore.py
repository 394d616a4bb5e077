"""The cell store — Spark-first re-expression of the reference's HBase
sparse wide table (SURVEY.md §1.1).

Reference model (citations into /root/reference):
  cell = (saltByte ++ rowKey, family "0", qualifier, group-concat blob)
  - write path: sort → group → concat → salted Put (Utils.scala:49-80)
  - flagship agg: groupBy(rowKey, columnName).agg(collect_list, max)
    (Utils.scala:225-227, 561-563)
  - read-back: prefix-filtered Scan (MetricDetails.scala:99-149) and
    batched point gets / bulkGet (Utils.scala:288-369, 411-470)
  - decode: split rowKey/value on delimiters + explode
    (Utils.scala:346-365, 377-402)

Spark-first design decisions (deviations documented):
  * Storage is Parquet partitioned by the salt bucket, every file sorted
    by (row_key, col_name) and cut into pages of at most ``PAGE_ROWS``
    rows (``_write_layout``, the one writer all store writes go through).
    The pushed ``startswith`` filter plays the PrefixFilter role through
    the Parquet page column index: a row_key-sorted file keeps one lot in
    a few adjacent pages, and the reader decodes only those.  Row-group
    min/max stats do not prune: a salt file of a few MB is one row group
    spanning every lot.  Salt partitioning spreads hot sequential keys
    over writers, as HBase's salted region split did; prefix scans and
    gets read every salt partition, and only ``merge_cells`` prunes by
    salt.
  * The value blob is a first-class ``array<string>`` column, not the
    reference's ``"count\\x00v1\\nv2…"`` string: Spark already carries the
    count as ``size(values)`` and an array survives predicate pushdown,
    explode, and Arrow transfers without re-parsing.  ``encode_blob`` /
    ``decode_blob`` reproduce the exact reference byte format at the
    storage boundary when external parity is required (Utils.scala:56,
    325-326).
  * ``collect_list`` order is partition-dependent, so values are
    ``array_sort``-ed after collection — the reference sorts driver-side
    before concatenation for the same reason (Utils.scala:53).  This makes
    results deterministic and oracle-comparable.
  * bulkGet(batch=1000) becomes an equi-join on (row_key, col_name)
    with the key batch broadcast, so the cell side is never shuffled.

Scale notes: the store has one shape — ``SALT_BUCKETS`` (24, the
reference's constant) salt partitions, one file per salt per write, row
keys joined by ``DELIM``.  The only driver-side collect is
``merge_cells``'s touched-salt set, at most 24 values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import (
    DELIM,
    SALT_BUCKETS,
    row_key,
    salt_bucket,
    split_preserve,
)
from . import pinning

NEWLINE = "\n"

#: Row cap of one Parquet page in the store.  The page column index prunes
#: at page granularity, so a lot-prefix scan decodes the one or two pages
#: per salt file where the lot's rows sit.  On a 1M-cell store (24 files
#: of 42k cells) a lot holding 17k cells read 40,000 Parquet rows at 1,000
#: rows a page, 65,825 at 2,000 and 27,500 at 500, against 999,150 from
#: unsorted files.  Halving the page again saves little next to that.
PAGE_ROWS = 1000


# ---------------------------------------------------------------------------
# Encode: relational → cells (the flagship aggregation, Utils.scala:203-234)
# ---------------------------------------------------------------------------

def _shape(
    df: DataFrame,
    key_cols: Sequence[str],
    col_name: str | Column,
    value_cols: Sequence[str],
) -> DataFrame:
    """The cell projection both builders share: row key, qualifier and
    the ``\\x00``-joined value tuple (Utils.scala:203-214).  The salt is
    ``salt_bucket(row_key)``; each builder adds it where its plan needs it,
    as a projection of its own.  The optimizer treats the salt as
    nondeterministic and pushes nothing through that projection."""
    name_col = F.col(col_name) if isinstance(col_name, str) else col_name
    return df.select(
        row_key(*key_cols).alias("row_key"),
        name_col.cast("string").alias("col_name"),
        row_key(*value_cols).alias("cell_value"),
    )


def to_cells(
    df: DataFrame,
    key_cols: Sequence[str],
    col_name: str | Column,
    value_cols: Sequence[str],
) -> DataFrame:
    """Reshape a relational DataFrame into the cell model.

    Equivalent of MUPR_fileToDataFrame's tail (Utils.scala:203-234):
      Value   = concat_ws(\\x00, value_cols)          (203-211)
      row_key = concat_ws(\\x00, key_cols)            (212-214)
      salt    = javaHash(row_key) % 24                (62-64, 82-96)
      groupBy(row_key, col_name).agg(collect_list(Value), max(salt))
                                                      (225-227)

    One hash-aggregate exchange; partial aggregation (map-side combine)
    is automatic.  Values are sorted post-collection for determinism
    (reference sorts pre-group at Utils.scala:53).
    """
    # Salt is a function of row_key alone, so compute it AFTER the
    # aggregation: once per group (not per input row, like the
    # reference's per-row UDF + max() piggyback at Utils.scala:215-227),
    # and in the post-shuffle stage where parallelism is the partition
    # count rather than the input-file split count.  The salt is one JVM
    # String.hashCode call per ASCII key (functions.keys.salt_bucket), so
    # the build starts no Python worker.
    return (
        _shape(df, key_cols, col_name, value_cols)
        .groupBy("row_key", "col_name")
        .agg(F.array_sort(F.collect_list("cell_value")).alias("values"))
        .withColumn("salt", salt_bucket(F.col("row_key")))
    )


def to_cells_write_aligned(
    df: DataFrame,
    key_cols: Sequence[str],
    col_name: str | Column,
    value_cols: Sequence[str],
) -> DataFrame:
    """:func:`to_cells` pre-distributed to MATCH the store layout — the
    write-side fast path (used by streaming ingest).

    Salt is computed per input row, the single exchange distributes raw
    rows by salt, and the aggregation then runs exchange-free: hash
    partitioning on a SUBSET of the group keys already satisfies the
    aggregate's clustering requirement (all rows of a row_key share its
    salt).  The returned frame writes with ``partitionBy(salt)`` and NO
    further shuffle — one exchange end-to-end where to_cells +
    repartition(salt) costs two (partial-agg exchange + layout
    exchange).

    Tradeoff vs :func:`to_cells`: the exchange moves raw rows, not
    partial aggregates, so prefer this when |rows| ≈ |cells| (metrics
    ingest, where groups hold a handful of values); and aggregation
    parallelism is the 24 salts."""
    shaped = _shape(df, key_cols, col_name, value_cols).withColumn(
        "salt", salt_bucket(F.col("row_key"))
    )
    return (
        shaped.repartition(SALT_BUCKETS, "salt")
        .groupBy("salt", "row_key", "col_name")
        .agg(F.array_sort(F.collect_list("cell_value")).alias("values"))
        .select("row_key", "col_name", "values", "salt")
    )


def encode_blob(values: Column | str) -> Column:
    """Exact reference blob format: ``count \\x00 v1\\nv2\\n…``
    (write side Utils.scala:56: ``length + DELIM + values.mkString("\\n")``)."""
    c = F.col(values) if isinstance(values, str) else values
    return F.concat(F.size(c).cast("string"), F.lit(DELIM), F.array_join(c, NEWLINE))


def decode_blob(blob: Column | str) -> Column:
    """Inverse of :func:`encode_blob`: strip the leading count (substring
    after the first \\x00 — Utils.scala:325-326) and split the rest on
    newlines."""
    c = F.col(blob) if isinstance(blob, str) else blob
    body = F.substr(c, F.instr(c, DELIM) + F.lit(1))
    return F.split(body, NEWLINE, -1)


# ---------------------------------------------------------------------------
# Storage boundary (replaces pushtoDB/BufferedMutator, Utils.scala:49-106)
# ---------------------------------------------------------------------------

def _write_layout(cells: DataFrame, path: str, mode: str) -> None:
    """Write an already-distributed cells frame in the store's layout:
    ``partitionBy("salt")``, each file sorted by (row_key, col_name), pages
    of at most ``PAGE_ROWS`` rows.  Sorted pages give the page column index
    tight row_key bounds, so a pushed ``startswith`` skips every page
    outside the prefix.  The sort must LEAD with the salt: the file writer
    requires that order and re-sorts (destroying the row_key order) when
    the incoming order does not satisfy it."""
    (
        cells.sortWithinPartitions("salt", "row_key", "col_name")
        .write.mode(mode)
        .option("parquet.page.row.count.limit", PAGE_ROWS)
        .partitionBy("salt")
        .parquet(path)
    )


def write_cells(cells: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist the cell store as Parquet partitioned by salt, in the
    sorted, page-indexed layout of :func:`_write_layout`.

    The salt partitioning spreads hot sequential keys over writers, like
    HBase's salted region split (Utils.scala:62-64).  What prunes a
    prefix scan is the page column index of the row_key-sorted files.

    The data is shuffled to MATCH the directory layout before writing:
    without it every upstream task holds rows for all 24 salt values and
    writes a file into every directory — tasks × 24 small files per
    batch, the classic partitioned-write file explosion (24× the
    metadata, listing, and open/close cost on every subsequent scan).
    After the repartition each task owns exactly one salt, so each write
    adds at most 24 files, one per salt."""
    _write_layout(cells.repartition("salt"), path, mode)


def read_cells(
    spark: SparkSession, path: str, prefix: str | None = None
) -> DataFrame:
    """Scan with a prefix filter — the Spark version of
    ``Scan().setFilter(PrefixFilter(..))`` (MetricDetails.scala:99-117).
    ``startswith`` reaches the Parquet reader as a pushed filter
    (StringStartsWith); unused columns never leave the footer (column
    pruning)."""
    df = spark.read.parquet(path)
    if prefix is not None:
        df = df.filter(F.col("row_key").startswith(prefix))
    return df


def lookup_cells(cells: DataFrame, keys: DataFrame) -> DataFrame:
    """Batched point-get as an equi-join (replaces bulkGet,
    Utils.scala:288-369 / 411-470).

    ``keys`` must carry ``row_key`` and optionally ``col_name``.  The key
    side is always broadcast, so the cell store is never shuffled — the
    moral equivalent of batching 1000 Gets per RPC.  Keys therefore must
    fit a broadcast; split a larger key set into batches, as bulkGet did.
    """
    on = ["row_key"] + (["col_name"] if "col_name" in keys.columns else [])
    return cells.join(F.broadcast(keys), on=on, how="inner")


# ---------------------------------------------------------------------------
# Decode: cells → relational (Utils.scala:346-365, 377-402)
# ---------------------------------------------------------------------------

def decode_cells(
    cells: DataFrame,
    key_names: Sequence[str],
    value_names: Sequence[str],
) -> DataFrame:
    """Blob → relational: split row_key into named key fields, explode the
    values array to one row per measurement, split each measurement tuple
    into named fields (``hbaseDataFrameSplit``, Utils.scala:377-402).

    All trailing-empty-safe (three-arg split, SURVEY.md hard part #3).
    """
    key_parts = split_preserve("row_key")
    out = cells.select(
        "row_key",
        "col_name",
        *[key_parts.getItem(i).alias(n) for i, n in enumerate(key_names)],
        F.explode("values").alias("_v"),
    )
    val_parts = split_preserve("_v")
    return out.select(
        *key_names,
        "col_name",
        *[val_parts.getItem(i).alias(n) for i, n in enumerate(value_names)],
    )


# ---------------------------------------------------------------------------
# Merge: CDC upsert/delete, rewriting ONLY touched salt partitions
# ---------------------------------------------------------------------------


def merge_cells(spark: SparkSession, path: str, changes: DataFrame) -> dict:
    """MERGE a CDC batch into the on-disk cell store in place.

    ``changes`` carries ``(row_key, col_name, values)`` plus an optional
    ``op`` column (``'U'`` upsert — replace the cell or insert it;
    ``'D'`` delete the cell; missing column = all upserts).  The
    reference's only mutation is write-or-append (Utils.scala:244-252,
    K3/K4); MERGE is the missing third verb a long-lived store needs
    (late data, corrections, GDPR deletes).

    Scale design — the rewrite is bounded by the TOUCHED SALTS, never
    the store:

    * the batch's salt set is computed first (at most 24 values —
      driver-safe by construction), and the store is read WITH a salt
      partition filter, so untouched partitions are never scanned, let
      alone rewritten;
    * old cell versions fall out via a (row_key, col_name) LEFT ANTI
      join against the batch — one shuffle keyed like every other
      cell-store operation;
    * the merged partitions are written to a sibling tmp directory from
      the live read lineage (no localCheckpoint materialization of the
      store), then swapped in with one rename per touched partition —
      the same crash contract as the signature-store compaction
      (streaming/dedup_stream.py): a crash before the first rename
      leaves the store untouched; a production deployment puts
      Iceberg/Delta's transactional MERGE under this exact operator
      shape;
    * ``spark.catalog.refreshByPath`` fences BOTH sides of the swap so
      pinned/cached plans can neither feed the merge a stale snapshot
      nor serve readers the pre-merge files;
    * the change batch's pin is released on every exit, normal or
      raised, so a per-micro-batch caller holds no blocks.

    Returns ``{"touched_salts", "rows_written", "untouched_partitions"}``.
    """
    import json
    import os
    import shutil

    if "op" not in changes.columns:
        changes = changes.withColumn("op", F.lit("U"))
    with pinning.scope():
        # reused by key-set, upserts AND touched scan
        ch = pinning.pin(
            changes.select(
                "row_key",
                "col_name",
                "values",
                "op",
                salt_bucket(F.col("row_key")).alias("salt"),
            ),
            "merge_changes",
        )
        touched_salts = sorted(
            r.salt
            for r in ch.select("salt").distinct().collect()  # driver-ok: <= 24
        )
        touched = [f"salt={s}" for s in touched_salts]
        if not touched:
            return {
                "touched_salts": [],
                "rows_written": 0,
                "untouched_partitions": SALT_BUCKETS,
            }

        # fence IN: merge what is actually on disk, not a pinned snapshot
        spark.catalog.refreshByPath(path)
        current = spark.read.parquet(path).filter(F.col("salt").isin(touched_salts))
        keys = ch.select("row_key", "col_name")
        survivors = current.join(keys, ["row_key", "col_name"], "left_anti")
        upserts = ch.filter(F.col("op") != "D").select(
            "row_key", "col_name", "values", "salt"
        )
        merged = survivors.select(
            "row_key", "col_name", "values", "salt"
        ).unionByName(upserts)

        tmp = path + ".merge_tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        # one file per salt, written in the store's layout
        _write_layout(merged.repartition("salt"), tmp, "overwrite")
        # explicit schema: a batch that deletes a whole partition leaves tmp
        # with zero data files, and inference would fail on the empty dir
        rows_written = spark.read.schema(merged.schema).parquet(tmp).count()

        # the manifest makes a crash anywhere in the swap window
        # deterministically recoverable (recover_cell_store rolls FORWARD:
        # tmp is complete by the time the manifest exists); it is removed
        # BEFORE the old/tmp cleanup, so "manifest present" always implies
        # "old_root untouched by cleanup" — no ambiguous states
        manifest = path + ".merge_manifest"
        with open(manifest, "w") as fh:
            json.dump({"touched": touched}, fh)

        old_root = path + ".merge_old"
        shutil.rmtree(old_root, ignore_errors=True)
        os.makedirs(old_root)
        for rel in touched:
            src = os.path.join(tmp, rel)
            dst = os.path.join(path, rel)
            if os.path.exists(dst):
                os.rename(dst, os.path.join(old_root, rel))
            # a touched partition whose every cell was deleted has no tmp
            # dir: the rename above already removed it from the store
            if os.path.exists(src):
                os.rename(src, dst)
        os.remove(manifest)
        shutil.rmtree(old_root)
        shutil.rmtree(tmp, ignore_errors=True)
        # fence OUT: readers must see the swapped partitions
        spark.catalog.refreshByPath(path)
        return {
            "touched_salts": touched_salts,
            "rows_written": rows_written,
            "untouched_partitions": SALT_BUCKETS - len(touched_salts),
        }


def recover_cell_store(path: str, spark: SparkSession | None = None) -> dict:
    """Heal a cell store after a crash anywhere in
    :func:`merge_cells`'s swap window.  Idempotent; call before using a
    store whose last merge may have died.

    The contract: the manifest is written only AFTER the merged tmp
    partitions are fully materialized, and removed BEFORE old/tmp
    cleanup begins.  So:

    * manifest present → the merge's outcome is fully determined; roll
      FORWARD per touched leaf partition (promote the tmp partition, or
      apply a whole-partition delete whose rename had not happened yet);
    * manifest absent → any leftover tmp/old dirs are pre-swap or
      post-swap debris; the store itself is consistent — just clean up.
    """
    import json
    import os
    import shutil

    manifest = path + ".merge_manifest"
    tmp = path + ".merge_tmp"
    old_root = path + ".merge_old"
    rolled = 0
    if os.path.exists(manifest):
        with open(manifest) as fh:
            touched = json.load(fh)["touched"]
        for rel in touched:
            src = os.path.join(tmp, rel)
            dst = os.path.join(path, rel)
            old = os.path.join(old_root, rel)
            if os.path.exists(src):
                # not yet promoted: move the current partition aside
                # (crash hit before or between this partition's renames)
                if os.path.exists(dst):
                    os.makedirs(os.path.dirname(old), exist_ok=True)
                    os.rename(dst, old)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                rolled += 1
            elif not os.path.exists(old) and os.path.exists(dst):
                # whole-partition delete whose removal rename had not
                # happened (tmp never had this leaf, old proves the
                # rename didn't run): apply it now
                os.makedirs(os.path.dirname(old), exist_ok=True)
                os.rename(dst, old)
                rolled += 1
            # else: this partition's swap already completed
        os.remove(manifest)
    shutil.rmtree(old_root, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)
    if spark is not None:
        spark.catalog.refreshByPath(path)
    return {"rolled_forward": rolled}
