"""Streaming incremental near-duplicate detection — the batch
``dedup_incremental`` classifier (operators.dedup.lsh_pairs_between)
run continuously: every micro-batch of incoming documents is classified
exact_dup / near_dup / new against a PERSISTED signature store seeded
with the history corpus and grown by each processed batch, so a
document is compared against history PLUS every earlier batch — never
against its own batch (the store is read before it is appended), and
history is never re-shingled.

This is the deployment shape of continuous corpus ingest at scale: the
signature store is the durable artifact (fixed-width sha-256 hashes +
MinHash minima, a few hundred bytes per document — no text retained),
each micro-batch's work is |batch| x (banding fan-out) against the
store's band index, and the verdict log is an append-only audit of
every ingest decision.

foreachBatch (not a stateful operator) because the per-batch work is a
JOIN against an unboundedly-growing side — state-store APIs hold state
in the executors' stores, while a signature TABLE stays on disk,
shared, compactable, and queryable by the batch engine between runs.
Micro-batches execute strictly sequentially, which is what makes the
"prior batches only" semantics deterministic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators import dedup as D
from ..operators import pinning


def _prepared(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → (id, shingles), empty docs dropped — the same
    preparation the batch incremental query feeds
    minhash_signature_frame."""
    return docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        F.col("doc_id").cast("bigint").alias("id"),
        D.word_shingle_strings("text", 3).alias("shingles"),
    )


def seed_signature_store(
    docs: DataFrame, store_dir: str, num_hashes: int = 96
) -> None:
    """Write the history corpus's signature store: ``hashes/`` holds
    (id, sha) for the exact tier, ``sigs/`` the MinHash signature frame
    for the near tier.  Overwrites — seeding is a one-time snapshot
    build; the streaming job appends to it."""
    docs.select(
        F.col("doc_id").cast("bigint").alias("id"),
        F.sha2(F.col("text"), 256).alias("sha"),
    ).write.mode("overwrite").parquet(os.path.join(store_dir, "hashes"))
    D.minhash_signature_frame(_prepared(docs), num_hashes).write.mode(
        "overwrite"
    ).parquet(os.path.join(store_dir, "sigs"))


def classify_against_store(
    batch: DataFrame,
    store_hashes: DataFrame,
    store_sigs: DataFrame,
    num_hashes: int = 96,
    threshold: float = 0.5,
) -> DataFrame:
    """Classify ``batch`` (doc_id, text) against a signature store
    snapshot: exact tier (sha semi-join), near tier (banded LSH +
    exact-Jaccard verify), verdict per doc.  The per-micro-batch body
    of :func:`stream_incremental_dedup`, exposed so maintenance
    operations (compaction, migration) can prove verdict identity
    against the store they rewrote."""
    bh = batch.select(
        F.col("doc_id").cast("bigint").alias("id"),
        F.sha2(F.col("text"), 256).alias("sha"),
    )
    exact_ids = bh.join(
        store_hashes.select("sha"), "sha", "left_semi"
    ).select("id")
    bsig = D.minhash_signature_frame(_prepared(batch), num_hashes)
    pairs = D.lsh_pairs_between(
        bsig,
        store_sigs,
        num_hashes=num_hashes,
        threshold=threshold,
        materialize=False,
    )
    near_ids = pairs.select(F.col("id_a").alias("id")).distinct()
    return (
        batch.select(F.col("doc_id").cast("bigint").alias("id"))
        .join(exact_ids.withColumn("e", F.lit(1)), "id", "left")
        .join(near_ids.withColumn("n", F.lit(1)), "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("e") == 1, F.lit("exact_dup"))
            .when(F.col("n") == 1, F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
        )
    )


def compact_signature_store(
    spark, store_dir: str, files_per_table: int = 8
) -> dict:
    """Rewrite the append-grown signature store into ``files_per_table``
    deduplicated files per table.

    Every processed micro-batch appends one task-set of small files to
    ``hashes/`` and ``sigs/``; after k batches the store is O(k x
    tasks) files and each classification pays the listing + small-file
    open cost.  Compaction folds replay duplicates (a recovered batch
    re-appends identical rows — see the at-least-once note on
    stream_incremental_dedup) and rewrites each table sorted by id into
    a bounded file count.  MUST run between streaming runs (the store
    version a running job classifies against is the directory listing).

    The rewrite goes to a sibling tmp directory and swaps in via two
    renames — the same crash contract as the store's appends (parquet
    atomic task commits): a crash before the first rename leaves the
    store untouched; between renames the store is absent-but-
    recoverable from ``<table>.old``.  A production deployment puts a
    table format (Iceberg/Delta) under this exact operation and gets
    the swap transactionally; the OPERATOR shape (dedupe -> cluster ->
    bounded rewrite) is identical.

    Returns per-table (files_before, files_after, rows) — verdict
    identity is the caller's check (classify_against_store before ==
    after; pinned in tests/test_compaction.py)."""
    import shutil

    stats = {}
    for table, keys in (("hashes", ["id", "sha"]), ("sigs", ["id"])):
        path = os.path.join(store_dir, table)
        # Cache fencing, both directions (caught by
        # tests/test_compaction.py): a prior classification that PINNED
        # the store frames (lsh_pairs_between lazy mode) leaves an
        # InMemoryRelation keyed on this path in the cache manager,
        # which plan-matching substitutes into ANY later read of the
        # path — compaction would silently dedupe a stale snapshot
        # (dropping appends that landed after the pin), and post-swap
        # readers would keep seeing the pre-compaction rows.  Refresh
        # before reading (compact what is actually on disk) and after
        # the swap (readers see the rewritten table).
        spark.catalog.refreshByPath(path)
        n_before = len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )
        compacted = (
            spark.read.parquet(path)
            .dropDuplicates(keys)
            .repartition(files_per_table)
            .sortWithinPartitions("id")
        )
        tmp = path + ".tmp"
        compacted.write.mode("overwrite").parquet(tmp)
        rows = spark.read.parquet(tmp).count()
        old = path + ".old"
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
        os.rename(tmp, path)
        shutil.rmtree(old)
        spark.catalog.refreshByPath(path)
        n_after = len(
            [f for f in os.listdir(path) if f.endswith(".parquet")]
        )
        stats[table] = {
            "files_before": n_before,
            "files_after": n_after,
            "rows": rows,
        }
    return stats


def _recover_table(path: str) -> str:
    """Heal ONE two-rename-swapped table directory; the per-table body
    shared by :func:`recover_signature_store` and
    :func:`recover_shingle_store`.  Idempotent.

    On-disk states and their resolutions:

    - table present, ``.old``/``.tmp`` residue -> compaction finished
      (or never started) but cleanup didn't: drop residue.
    - table ABSENT, ``.old`` present -> crashed between the two
      renames: restore ``.old`` (the pre-compaction store — appends are
      never lost; the compaction is simply not applied).
    - table absent, only ``.tmp`` -> crashed after removing the
      original (cannot happen in the current two-rename order, but a
      future reorder might): promote the fully-written tmp.
    """
    import shutil

    old, tmp = path + ".old", path + ".tmp"
    if os.path.exists(path):
        act = "ok"
        if os.path.exists(old) or os.path.exists(tmp):
            shutil.rmtree(old, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
            act = "residue_cleared"
    elif os.path.exists(old):
        os.rename(old, path)
        shutil.rmtree(tmp, ignore_errors=True)
        act = "restored_pre_compaction"
    elif os.path.exists(tmp):
        os.rename(tmp, path)
        act = "promoted_tmp"
    else:
        act = "missing"
    return act


def recover_signature_store(store_dir: str) -> dict:
    """Heal the signature store (``hashes/`` + ``sigs/``) after a crash
    anywhere in :func:`compact_signature_store`'s swap window.
    Idempotent; call before seeding/streaming against a store that may
    have died mid-compaction.  Per-table state machine:
    :func:`_recover_table`."""
    return {
        table: _recover_table(os.path.join(store_dir, table))
        for table in ("hashes", "sigs")
    }


def recover_shingle_store(store_dir: str) -> dict:
    """Heal the shingle-key store (``keys/``) after a crash anywhere in
    :func:`compact_shingle_store`'s swap window — the keys/ sibling of
    :func:`recover_signature_store`, which only heals hashes/ + sigs/
    and would leave a mid-compaction shingle store headless.  Without
    this, a crash between the two renames leaves ``keys/`` absent and
    the next :func:`stream_shingle_ingest` append would recreate an
    EMPTY store — history shingle keys silently lost, every later
    incremental cut under-counting.  (The ingest path independently
    refuses to append into that state.)  Idempotent; state machine:
    :func:`_recover_table`."""
    return {"keys": _recover_table(os.path.join(store_dir, "keys"))}


def stream_incremental_dedup(
    stream: DataFrame,
    store_dir: str,
    verdict_dir: str,
    checkpoint: str,
    num_hashes: int = 96,
    threshold: float = 0.5,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Classify a document stream against the growing signature store.

    Per micro-batch, strictly in this order:

      1. exact tier — the batch's sha-256 hashes semi-join ``hashes/``;
      2. near tier — the batch's signature frame band-joins ``sigs/``
         (lsh_pairs_between: same band hashes, size-ratio prefilter,
         exact-Jaccard verify as the batch operator);
      3. the verdict rows (doc_id, verdict, ingest_batch) append to the
         verdict log;
      4. the batch's OWN hashes and signatures append to the store, so
         later batches — not this one — see them.

    Appends are at least once, as in stream_to_cells: a replayed batch
    appends its verdict rows again (ROADMAP direction 1) and re-appends
    its signatures, which is harmless to verdicts (duplicate store rows
    can only re-flag true duplicates).
    The store frames are read fresh from disk each batch (no caching) —
    the listing IS the store version the batch classifies against."""
    hashes_dir = os.path.join(store_dir, "hashes")
    sigs_dir = os.path.join(store_dir, "sigs")

    def process(batch: DataFrame, batch_id: int) -> None:
        # every pin of the batch (its own, and the lazy signature pins
        # of lsh_pairs_between) is released when the batch ends; the
        # scope is this callback thread's, so a concurrent query's pins
        # are untouched
        with pinning.scope():
            _process_batch(batch, batch_id)

    def _process_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        batch = pinning.pin(batch, "stream_batch")  # consumed by 4 stages
        store_hashes = spark.read.parquet(hashes_dir)
        store_sigs = spark.read.parquet(sigs_dir)
        verdicts = classify_against_store(
            batch, store_hashes, store_sigs, num_hashes, threshold
        ).withColumn("ingest_batch", F.lit(batch_id))
        verdicts.write.mode("append").parquet(verdict_dir)
        # append the batch's own store rows AFTER the verdict write, so
        # a batch never classifies against itself; both recompute from
        # the pinned batch (sha is a cheap map)
        batch.select(
            F.col("doc_id").cast("bigint").alias("id"),
            F.sha2(F.col("text"), 256).alias("sha"),
        ).write.mode("append").parquet(hashes_dir)
        D.minhash_signature_frame(_prepared(batch), num_hashes).write.mode(
            "append"
        ).parquet(sigs_dir)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ivf_ingest(
    stream: DataFrame,
    centroids: DataFrame,
    index_dir: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Continuous IVF index maintenance — the production shape of an
    embedding store that grows by ingest batches: each micro-batch of
    vectors is assigned to its nearest coarse centroid (broadcast
    scoring + map-side-combined argmax, operators.similarity.ivf_index)
    and APPENDED to the partitioned-by-list_id parquet index.  Search
    (ivf_topk / ivf_pq_topk over the read-back store) sees every
    ingested batch without ever rebuilding the index, and probe pruning
    stays dynamic-partition-pruning on the stored files.

    Assignment is per-row against a FROZEN codebook, so the appended
    index is row-identical to a full rebuild over the union — the
    identity the ann_ivf_streamed gate pins.  (Re-training the codebook
    is a separate, deliberate snapshot operation: a changed codebook
    invalidates every list assignment, exactly like re-sharding a
    table.)  Appends are at least once, as in stream_to_cells: a
    replayed batch appends its rows again (ROADMAP direction 1); their
    (corpus_id, list) pairs are identical, so dedup-on-read (max_by
    corpus_id) is the idempotency escape hatch a deployment adds if it
    needs it."""
    from ..operators.similarity import ivf_index

    def process(batch: DataFrame, batch_id: int) -> None:
        ivf_index(batch, centroids, vec_col=vec_col, id_col=id_col).withColumn(
            "ingest_batch", F.lit(batch_id)
        ).write.mode("append").partitionBy("list_id").parquet(index_dir)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_trigram_ingest(
    stream: DataFrame,
    index_dir: str,
    checkpoint: str,
    n_buckets: int = 64,
    doc_id: str = "doc_id",
    text: str = "text",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Continuous substring-index maintenance — the streaming sibling
    of operators.retrieval.trigram_index_build, shaped exactly like
    :func:`stream_ivf_ingest`: each micro-batch of documents explodes
    to its distinct character trigrams and APPENDS to the
    g_bucket-partitioned postings store, plus a per-batch partial
    (g, df) count to the gram_df store.  trigram_search_indexed sums
    gram_df on read and distinct-counts the intersection, so search
    over the maintained index sees every ingested batch without a
    rebuild — and stays EXACT even if an at-least-once replay
    re-appends a batch (postings duplicates collapse in the
    distinct-count; doubled partial dfs can only re-rank the rarest-k
    selection, which is pure pruning).  Appends are at least once, as
    in stream_to_cells (ROADMAP direction 1); the gate pins streamed ==
    batch-rebuilt == contains-truth."""
    from ..operators.retrieval import _char_trigrams, _norm_docs_text

    def process(batch: DataFrame, batch_id: int) -> None:
        dg = _norm_docs_text(batch, doc_id, text).select(
            "doc_id", F.explode(_char_trigrams("t")).alias("g")
        )
        dg.withColumn(
            "g_bucket", F.pmod(F.xxhash64("g"), F.lit(n_buckets))
        ).withColumn("ingest_batch", F.lit(batch_id)).write.mode(
            "append"
        ).partitionBy("g_bucket").parquet(os.path.join(index_dir, "postings"))
        dg.groupBy("g").agg(F.count(F.lit(1)).alias("df")).withColumn(
            "ingest_batch", F.lit(batch_id)
        ).write.mode("append").parquet(os.path.join(index_dir, "gram_df"))

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_shingle_ingest(
    stream: DataFrame,
    store_dir: str,
    checkpoint: str,
    k: int = 20,
    n_buckets: int = 64,
    doc_id: str = "doc_id",
    text: str = "text",
    key_fn: str = "exact",
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Continuous shingle-key-store maintenance — the streaming sibling
    of operators.text.substring_shingle_keys, shaped exactly like
    :func:`stream_trigram_ingest`: each micro-batch of documents
    appends its DISTINCT k-token shingle keys to the bucket-partitioned
    store.  exact_substring_dedup_incremental reads the store with a
    distinct() (substring_shingle_keys contract: one logical row per
    key), so search over the maintained store sees every ingested
    batch without a rebuild — and an at-least-once replay that
    re-appends a batch's keys is ABSORBED by that read-side distinct
    (a duplicated key row cannot change a semi-join).  Exactly-once
    from the checkpoint + Parquet's atomic task commits is the normal
    regime; the pytest gate pins streamed == batch-built == the
    incremental cut result.

    Every batch first checks the compaction swap state: ``keys.old``
    present with ``keys/`` absent means a compaction died between its
    two renames, and appending would recreate an EMPTY store on top of
    the recoverable history — the batch raises instead (run
    :func:`recover_shingle_store`, then restart)."""
    from ..operators.text import substring_shingle_keys

    keys_path = os.path.join(store_dir, "keys")

    def process(batch: DataFrame, batch_id: int) -> None:
        if os.path.exists(keys_path + ".old") and not os.path.exists(
            keys_path
        ):
            raise RuntimeError(
                "shingle store crashed mid-compaction (keys.old present,"
                " keys/ absent): appending now would seed an EMPTY store"
                " and silently drop history — run recover_shingle_store"
                f" on {store_dir} first"
            )
        keys = substring_shingle_keys(
            batch, k=k, text_col=text, id_col=doc_id, key_fn=key_fn
        )
        keys.withColumn(
            "sh_bucket", F.pmod(F.xxhash64("_sh"), F.lit(n_buckets))
        ).withColumn("ingest_batch", F.lit(batch_id)).write.mode(
            "append"
        ).partitionBy("sh_bucket").parquet(os.path.join(store_dir, "keys"))

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_shingle_store(
    spark, store_dir: str, files_per_bucket: int = 1
) -> dict:
    """Rewrite the append-grown shingle-key store
    (:func:`stream_shingle_ingest` layout: ``keys/`` partitioned by
    ``sh_bucket``) into at most ``files_per_bucket`` DEDUPLICATED files
    per bucket — the same operator shape as
    :func:`compact_signature_store` (dedupe → cluster → bounded
    rewrite → two-rename swap with cache fencing), applied to the
    incremental-substring-dedup artifact.  Folding duplicate keys is
    pure space reclamation: the consumer's semi join is set-semantics,
    so the cut verdicts are identical before and after (pinned in
    tests).  Compacted rows carry ``ingest_batch = -1`` so later
    streaming appends keep a uniform schema.  MUST run between
    streaming runs, exactly like the signature-store compaction."""
    import shutil

    path = os.path.join(store_dir, "keys")
    spark.catalog.refreshByPath(path)

    def _n_files(p: str) -> int:
        return sum(
            1
            for root, _dirs, files in os.walk(p)
            for f in files
            if f.endswith(".parquet")
        )

    n_before = _n_files(path)
    compacted = (
        spark.read.parquet(path)
        .select("_sh", "sh_bucket")
        .dropDuplicates(["_sh"])
        .withColumn("ingest_batch", F.lit(-1))
        .repartition("sh_bucket")
        .coalesce(max(files_per_bucket, 1))
    )
    tmp = path + ".tmp"
    compacted.write.mode("overwrite").partitionBy("sh_bucket").parquet(tmp)
    rows = spark.read.parquet(tmp).count()
    old = path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(path)
    return {
        "files_before": n_before,
        "files_after": _n_files(path),
        "rows": rows,
    }
