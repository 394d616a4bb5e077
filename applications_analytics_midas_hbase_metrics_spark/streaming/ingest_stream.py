"""Streaming ingestion into the cell store — the reference's batch
pipeline (file → parse → enrich → cells → store) as a continuous
Structured Streaming job.

``stream_to_cells`` uses foreachBatch: each micro-batch runs the SAME
``to_cells`` aggregation the batch path uses and appends to the salted
Parquet store.  Per-batch grouping matches the reference's semantics
exactly — pushtoDB was called once per ingested file (Utils.scala:49-80),
so cells from different ingest batches coexist in the store and the
read path groups across them (``lookup_cells``/``decode_cells`` operate
on the union).  Compaction (operators.versions.compact_cells) folds the
accumulated small files.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.cellstore import _write_layout, to_cells_write_aligned


def stream_to_cells(
    stream: DataFrame,
    out_path: str,
    checkpoint: str,
    key_cols: Sequence[str],
    col_name: str,
    value_cols: Sequence[str],
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Continuously ingest a stream into the salted Parquet cell store.

    foreachBatch (not a plain parquet sink) because the cell build is an
    aggregation: each micro-batch is grouped and appended partitioned by
    salt, in the store's sorted, page-indexed layout.  The write-aligned
    build (to_cells_write_aligned) distributes by salt BEFORE
    aggregating, so the whole batch runs one exchange and lands one file
    per salt per micro-batch with no layout reshuffle.  Appends are at
    least once, not exactly once: a batch that ran but whose commit-log
    entry was not written runs again on restart and appends its cells a
    second time under the same ``ingest_batch`` (ROADMAP direction 1)."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        cells = to_cells_write_aligned(batch, key_cols, F.col(col_name), value_cols)
        cells = cells.withColumn("ingest_batch", F.lit(batch_id))
        _write_layout(cells, out_path, "append")

    writer = stream.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_cdc_merge(
    change_stream: DataFrame,
    store_path: str,
    checkpoint: str,
    trigger_available_now: bool = False,
) -> StreamingQuery:
    """Apply a CDC change stream (Debezium-shaped: ``row_key``,
    ``col_name``, ``values``, ``op`` in {'U','D'}, monotone ``seq``) to
    the salted cell store: each micro-batch is first compacted to the
    LATEST change per cell (max ``seq`` — a batch may carry several
    changes to one key; last writer wins), then MERGEd via
    ``operators.cellstore.merge_cells`` — upserts replace the cell,
    deletes drop it, and only the batch's touched salt partitions are
    rewritten.

    Delivery semantics: the checkpoint gives at-least-once batch
    delivery, and a REPLAYED batch re-merges the same compacted change
    set — upserts overwrite with identical values, deletes of absent
    cells are no-ops — so the store state is exactly-once effective.
    Cross-batch ordering is the file-source arrival order (the CDC
    contract: a log-ordered feed); within a batch the seq compaction
    restores order regardless of row layout."""
    from pyspark.sql.window import Window

    from ..operators.cellstore import merge_cells, recover_cell_store

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        # a restarted stream may land on a store whose previous merge
        # died mid-swap: heal first (idempotent, a few stat calls when
        # there is nothing to do), then the checkpoint replays the
        # batch and the idempotent merge converges
        recover_cell_store(store_path, batch.sparkSession)
        w = Window.partitionBy("row_key", "col_name").orderBy(
            F.col("seq").desc()
        )
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("row_key", "col_name", "values", "op")
        )
        merge_cells(batch.sparkSession, store_path, latest)

    writer = change_stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_domain_ingest(
    stream,
    stats_dir: str,
    checkpoint: str,
    url_col: str = "url",
    text_col: str = "text",
    trigger_available_now: bool = False,
):
    """Continuous per-domain volume bookkeeping — the streaming sibling
    of operators.web.domain_stats, shaped exactly like the other
    foreachBatch index maintainers (stream_trigram_ingest and friends):
    each micro-batch of URL'd documents extracts host + registrable
    domain map-side and APPENDS its per-domain PARTIAL counts
    (n_docs, total_chars, per-batch distinct hosts carried as rows so
    the read-side distinct stays exact) to the stats store.  The
    read-side rollup (one GROUP BY over the store) then equals the
    batch domain_stats over everything ever ingested — the domain-cap
    and mixture stages consume that rollup without ever re-scanning
    ingested text.

    Appends are at least once, as in stream_to_cells: a replayed batch
    appends its partials again and double-counts volume (ROADMAP
    direction 1).  A consumer that needs replay-proof volume dedups on
    (ingest_batch, domain) first (the columns are carried for exactly
    that)."""
    from pyspark.sql import functions as F

    from ..operators import web as W

    def process(batch, batch_id: int) -> None:
        dom = W.with_domain(batch, url_col=url_col)
        dom.groupBy("domain", "host").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length(F.col(text_col))).cast("bigint").alias(
                "total_chars"
            ),
        ).withColumn("ingest_batch", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(stats_dir)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_domain_stats(spark, stats_dir: str):
    """Exact rollup over the append-grown per-(domain, host, batch)
    partials: doc/char totals sum; distinct hosts distinct-count (a
    host appearing in many batches collapses).  Returns
    (domain, n_docs, n_hosts, total_chars)."""
    from pyspark.sql import functions as F

    parts = spark.read.parquet(stats_dir)
    return parts.groupBy("domain").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.countDistinct("host").cast("bigint").alias("n_hosts"),
        F.sum("total_chars").cast("bigint").alias("total_chars"),
    )


def stream_quality_ingest(
    stream,
    stats_dir: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    trigger_available_now: bool = False,
    **rule_kwargs,
):
    """Continuous corpus-quality bookkeeping — the streaming sibling of
    operators.text.gopher_quality_rules, shaped like the other
    foreachBatch maintainers (stream_domain_ingest and friends): each
    micro-batch scores its documents map-side (the rules battery is
    zero-shuffle) and APPENDS per-(keep, n_stop_hits) PARTIAL counts
    and word totals to the stats store.  The read-side rollup then
    equals the batch rules battery over everything ever ingested — a
    live keep-rate dashboard that never re-scans ingested text.
    ``rule_kwargs`` pass through to the battery (threshold overrides).

    Same at-least-once appends as stream_domain_ingest: a replayed batch
    appends its partials again (ROADMAP direction 1), so a replay-proof
    consumer dedups on (ingest_batch, keep, n_stop_hits) first."""
    from pyspark.sql import functions as F

    from ..operators import text as T

    def process(batch, batch_id: int) -> None:
        sig = T.gopher_quality_rules(
            batch, text_col=text_col, id_col=id_col, **rule_kwargs
        )
        sig.groupBy("keep", "n_stop_hits").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_words").cast("bigint").alias("total_words"),
        ).withColumn("ingest_batch", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(stats_dir)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_quality_stats(spark, stats_dir: str):
    """Exact rollup over the append-grown per-(keep, stop-hit, batch)
    partials.  Returns (keep, n_stop_hits, n_docs, total_words)."""
    from pyspark.sql import functions as F

    parts = spark.read.parquet(stats_dir)
    return parts.groupBy("keep", "n_stop_hits").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_words").cast("bigint").alias("total_words"),
    )
