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

Scale notes (100 TB): 24 salt partitions is the *reference's* constant;
``write_cells`` also accepts ``extra_partition_cols`` so a real deployment
partitions by (date, salt) and sizes files via
``spark.sql.files.maxRecordsPerFile``.  No driver-side collects anywhere.
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
    salt_bucket_vec,
    split_preserve,
)

#: HBase column-family constant — always "0" in the reference
#: (Utils.scala:65, MetricDetails.scala:107-114). Kept for blob parity only.
COLUMN_FAMILY = "0"

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

def to_cells(
    df: DataFrame,
    key_cols: Sequence[str],
    col_name: str | Column,
    value_cols: Sequence[str],
    buckets: int = SALT_BUCKETS,
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
    name_col = F.col(col_name) if isinstance(col_name, str) else col_name
    shaped = df.select(
        row_key(*key_cols).alias("row_key"),
        name_col.cast("string").alias("col_name"),
        row_key(*value_cols).alias("cell_value"),
    )
    # Salt is a function of row_key alone, so compute it AFTER the
    # aggregation: once per group (not per input row, like the
    # reference's per-row UDF + max() piggyback at Utils.scala:215-227),
    # and in the post-shuffle stage where parallelism is the partition
    # count rather than the input-file split count.
    # Arrow-vectorized salt for the bulk build (bit-exact with the
    # expression form, cross-checked in tests/test_keys.py): the
    # per-character expression fold is CodegenFallback and costs ~2s per
    # 600k keys on 32 cores, while the numpy closed form hashes the
    # whole batch at memory bandwidth.  Non-default bucket counts take
    # the expression path (the vec UDF bakes in SALT_BUCKETS).
    salt = (
        salt_bucket_vec(F.col("row_key"))
        if buckets == SALT_BUCKETS
        else salt_bucket(F.col("row_key"), buckets)
    )
    return (
        shaped.groupBy("row_key", "col_name")
        .agg(F.array_sort(F.collect_list("cell_value")).alias("values"))
        .withColumn("salt", salt)
    )


def to_cells_write_aligned(
    df: DataFrame,
    key_cols: Sequence[str],
    col_name: str | Column,
    value_cols: Sequence[str],
    buckets: int = SALT_BUCKETS,
    chunks_per_salt: int = 1,
) -> DataFrame:
    """:func:`to_cells` pre-distributed to MATCH the store layout — the
    write-side fast path (used by streaming ingest).

    Salt is computed per input row, the single exchange distributes raw
    rows by (salt[, chunk]), and the aggregation then runs
    exchange-free: hash partitioning on a SUBSET of the group keys
    already satisfies the aggregate's clustering requirement (all rows
    of a row_key share its salt).  The returned frame writes with
    ``partitionBy(salt)`` and NO further shuffle — one exchange
    end-to-end where to_cells + repartition(salt) costs two (partial-agg
    exchange + layout exchange).

    Tradeoff vs :func:`to_cells`: the exchange moves raw rows, not
    partial aggregates, so prefer this when |rows| ≈ |cells| (metrics
    ingest, where groups hold a handful of values); and aggregation
    parallelism is buckets × chunks_per_salt — raise ``chunks_per_salt``
    on a large cluster so each salt splits across parallel writers
    (same knob, same layout as :func:`write_cells`)."""
    name_col = F.col(col_name) if isinstance(col_name, str) else col_name
    shaped = df.select(
        row_key(*key_cols).alias("row_key"),
        name_col.cast("string").alias("col_name"),
        row_key(*value_cols).alias("cell_value"),
    )
    salt = (
        salt_bucket_vec(F.col("row_key"))
        if buckets == SALT_BUCKETS
        else salt_bucket(F.col("row_key"), buckets)
    )
    shaped = shaped.withColumn("salt", salt)
    if chunks_per_salt > 1:
        shaped = shaped.withColumn(
            "_chunk", F.pmod(F.xxhash64("row_key"), F.lit(chunks_per_salt))
        )
        parts = shaped.repartition(buckets * chunks_per_salt, "salt", "_chunk")
        group = ["salt", "_chunk", "row_key", "col_name"]
    else:
        parts = shaped.repartition(buckets, "salt")
        group = ["salt", "row_key", "col_name"]
    return (
        parts.groupBy(*group)
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

def _write_layout(
    cells: DataFrame, path: str, mode: str, parts: Sequence[str]
) -> None:
    """Write an already-distributed cells frame in the store's layout:
    ``partitionBy(*parts)``, each file sorted by (row_key, col_name), pages
    of at most ``PAGE_ROWS`` rows.  Sorted pages give the page column index
    tight row_key bounds, so a pushed ``startswith`` skips every page
    outside the prefix.  The sort must LEAD with the partition columns:
    the file writer requires that order and re-sorts (destroying the
    row_key order) when the incoming order does not satisfy it."""
    (
        cells.sortWithinPartitions(*parts, "row_key", "col_name")
        .write.mode(mode)
        .option("parquet.page.row.count.limit", PAGE_ROWS)
        .partitionBy(*parts)
        .parquet(path)
    )


def write_cells(
    cells: DataFrame,
    path: str,
    mode: str = "overwrite",
    extra_partition_cols: Sequence[str] = (),
    chunks_per_salt: int = 1,
) -> None:
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
    After the repartition each task owns exactly one (salt, chunk)
    slice, so the store gets 24 × ``chunks_per_salt`` right-sized files.
    ``chunks_per_salt`` is the cluster-scale knob: one chunk per salt is
    right up to a few GB per salt; a 100 TB ingest raises it so each
    salt splits across chunks_per_salt parallel writers (file size ~
    salt_bytes / chunks, write parallelism 24 × chunks) instead of
    funneling a salt through one task."""
    parts = [*extra_partition_cols, "salt"]
    if chunks_per_salt > 1:
        cells = cells.repartition(
            *parts, F.pmod(F.xxhash64("row_key"), F.lit(chunks_per_salt))
        )
    else:
        cells = cells.repartition(*parts)
    _write_layout(cells, path, mode, parts)


def write_cells_bucketed(
    cells: DataFrame,
    table_name: str,
    buckets: int = SALT_BUCKETS,
) -> None:
    """Persist the cell store as a BUCKETED catalog table: hash-bucketed
    and sorted by row_key.

    This is the co-located-join layout: any join or aggregation keyed on
    row_key against another table bucketed the same way runs with ZERO
    exchanges — at 100 TB that's the difference between re-shuffling the
    store for every validation run and reading it in place.  (Parquet
    `partitionBy` handles pruning; `bucketBy` handles join locality —
    they solve different problems and compose.)"""
    (
        cells.write.mode("overwrite")
        .bucketBy(buckets, "row_key")
        .sortBy("row_key", "col_name")
        .format("parquet")
        .saveAsTable(table_name)
    )


def read_cells(
    spark: SparkSession,
    path: str,
    prefix: str | None = None,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Scan with prefix filter + qualifier projection — the Spark version of
    ``Scan().setFilter(PrefixFilter(..)).addColumn(..)`` (MetricDetails.scala:
    99-117).  ``startswith`` reaches the Parquet reader as a pushed filter
    (StringStartsWith); ``col_name isin`` prunes qualifiers; unused columns
    never leave the footer (column pruning)."""
    df = spark.read.parquet(path)
    if prefix is not None:
        df = df.filter(F.col("row_key").startswith(prefix))
    if columns is not None:
        df = df.filter(F.col("col_name").isin(list(columns)))
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


def merge_cells(
    spark: SparkSession,
    path: str,
    changes: DataFrame,
    buckets: int = SALT_BUCKETS,
    chunks_per_salt: int = 1,
    extra_partition_cols: Sequence[str] = (),
) -> dict:
    """MERGE a CDC batch into the on-disk cell store in place.

    ``changes`` carries ``(row_key, col_name, values)`` plus an optional
    ``op`` column (``'U'`` upsert — replace the cell or insert it;
    ``'D'`` delete the cell; missing column = all upserts).  The
    reference's only mutation is write-or-append (Utils.scala:244-252,
    K3/K4); MERGE is the missing third verb a long-lived store needs
    (late data, corrections, GDPR deletes).

    Scale design — the rewrite is bounded by the TOUCHED PARTITIONS,
    never the store:

    * the batch's salt set is computed first (``<= buckets`` values —
      driver-safe by construction), and the store is read WITH a salt
      partition filter, so untouched partitions are never scanned, let
      alone rewritten;
    * old cell versions fall out via a (row_key, col_name) LEFT ANTI
      join against the batch — one shuffle keyed like every other
      cell-store operation (a deployment that bucketed the store by
      row_key runs it exchange-free on the store side);
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
      nor serve readers the pre-merge files.

    ``extra_partition_cols`` supports the (date, salt)-style layouts
    ``write_cells`` produces: the change batch must carry those columns,
    the touched set becomes LEAF partitions (date=D/salt=S), and a
    one-day backfill scans and swaps only that day's dirs — the same
    code path, which is what makes MERGE cheap at 100 TB.  A batch
    touching more than 4096 leaves is rejected (that workload belongs
    on the compaction path).

    Returns ``{"touched_partitions", "touched_salts", "rows_written",
    "untouched_partitions"}`` (the last is None under a nested layout,
    where the total leaf count is unknown without listing).
    """
    import json
    import os
    import shutil
    from functools import reduce
    from operator import and_, or_

    extras = list(extra_partition_cols)
    for c in extras:
        if c not in changes.columns:
            raise ValueError(
                f"extra partition column {c!r} missing from the change batch"
            )
    if "op" not in changes.columns:
        changes = changes.withColumn("op", F.lit("U"))
    salt = (
        salt_bucket_vec(F.col("row_key"))
        if buckets == SALT_BUCKETS
        else salt_bucket(F.col("row_key"), buckets)
    )
    parts = [*extras, "salt"]
    ch = changes.select(
        "row_key", "col_name", "values", "op", *extras, salt.alias("salt")
    ).localCheckpoint(eager=True)  # reused by key-set, upserts AND touched scan
    combos = sorted(
        tuple(r)
        for r in ch.select(*parts).distinct().collect()  # driver-ok: bounded below
    )
    # a CDC batch touches few leaf partitions by nature (few dates x
    # <= `buckets` salts); a batch that violates that belongs on the
    # compaction path, not a per-partition swap
    if len(combos) > 4096:
        raise ValueError(
            f"change batch touches {len(combos)} leaf partitions; "
            "bound it (e.g. merge per date) or rewrite via compact_cells"
        )
    touched = ["/".join(f"{c}={v}" for c, v in zip(parts, combo)) for combo in combos]
    if not touched:
        return {
            "touched_partitions": [],
            "touched_salts": [],
            "rows_written": 0,
            "untouched_partitions": buckets,
        }

    # fence IN: merge what is actually on disk, not a pinned snapshot
    spark.catalog.refreshByPath(path)
    combo_filter = reduce(
        or_,
        (
            reduce(and_, (F.col(c) == v for c, v in zip(parts, combo)))
            for combo in combos
        ),
    )
    current = spark.read.parquet(path).filter(combo_filter)
    keys = ch.select("row_key", "col_name")
    survivors = current.join(keys, ["row_key", "col_name"], "left_anti")
    upserts = ch.filter(F.col("op") != "D").select(
        "row_key", "col_name", "values", *parts
    )
    merged = survivors.select(
        "row_key", "col_name", "values", *parts
    ).unionByName(upserts)
    # one file per (partition, chunk), written in the store's layout
    if chunks_per_salt > 1:
        merged = merged.repartition(
            *(F.col(c) for c in parts),
            F.pmod(F.xxhash64("row_key"), F.lit(chunks_per_salt)),
        )
    else:
        merged = merged.repartition(*parts)

    tmp = path + ".merge_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    _write_layout(merged, tmp, "overwrite", parts)
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
            aside = os.path.join(old_root, rel)
            os.makedirs(os.path.dirname(aside), exist_ok=True)
            os.rename(dst, aside)
        # a touched partition whose every cell was deleted has no tmp
        # dir: the rename above already removed it from the store
        if os.path.exists(src):
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
    os.remove(manifest)
    shutil.rmtree(old_root)
    shutil.rmtree(tmp, ignore_errors=True)
    # fence OUT: readers must see the swapped partitions
    spark.catalog.refreshByPath(path)
    return {
        "touched_partitions": touched,
        # salt-only convenience view (the common layout)
        "touched_salts": sorted(
            {int(rel.rsplit("salt=", 1)[1]) for rel in touched}
        ),
        "rows_written": rows_written,
        "untouched_partitions": buckets - len(touched)
        if not extras
        else None,
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
