"""Streaming parity queries: the Structured Streaming surface run under
the SAME differential gate as the batch operators.

Each query materializes a short ``availableNow`` streaming job over a
file source built from the fixture tables, then returns the sink
contents as a batch DataFrame:

  * stream_cell_build    — the cell-store ingest pipeline
    (streaming.ingest_stream.stream_to_cells, foreachBatch + append)
    must equal the one-shot batch build — full DuckDB oracle.
  * stream_running_totals — applyInPandasWithState running totals across
    4 micro-batches; the final state per user must equal the batch
    group-by — full DuckDB oracle (sums rounded, fp-order tolerant).

Streaming scratch space (source copies, checkpoints, sinks) lives in a
per-query scratch dir that is WIPED on reuse (queries.scratch_dir), so
repeated runs (bench best-of-2, driver retries) neither collide on
checkpoints nor accumulate stores on disk.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.keys import duckdb_salt_sql
from ..operators import pinning
from ..session import scoped_shuffle_partitions
from ..streaming import dedup_stream as DS
from ..streaming import ingest_stream as IS
from ..streaming import join_stream as SJ
from ..streaming import stateful as ST
from .queries import (
    _CELLS_SQL,
    CHR0,
    esc_ctrl,
    esc_ctrl_sql,
    register,
    register_extra,
    scratch_dir,
    stable_scratch_dir,
    t,
)


def _source_copy(df, name: str, sf_dir: str, nfiles: int) -> str:
    """Write a deterministic file-source copy of a fixture-derived frame
    ONCE per interpreter (keyed by query name + sf_dir + file count);
    repeated invocations stream from the existing files.  The copy is an
    input fixture, not query state — checkpoints and sinks still live in
    per-invocation wiped scratch."""
    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(stable_scratch_dir(f"{name}_{tag}_{nfiles}"), "src")
    if not os.path.exists(os.path.join(d, "_SUCCESS")):
        (df.repartition(nfiles) if nfiles > 1 else df.coalesce(1)).write.mode(
            "overwrite"
        ).parquet(d)
    return d


def _await(q) -> None:
    """availableNow jobs must FINISH: a partial sink would surface as a
    confusing data mismatch downstream, so a timeout raises instead."""
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError(f"streaming query {q.name!r} timed out after 300s")


#: Scope ``spark.sql.shuffle.partitions`` to a streaming job: the
#: state-store / per-micro-batch shuffle width is FIXED at first
#: checkpoint for the life of a streaming query, so it must be sized to
#: the expected state cardinality (a deploy-time decision an operator
#: makes anyway), not inherited from the batch session default — at the
#: fixture scale 32 means 4x the state-store tasks and scheduling
#: overhead for the same per-group work (~25% of a streaming query's
#: wall time, measured).  Restored only after the job completes because
#: micro-batch planning re-reads the conf while the query runs.
#:
#: The conf is session-global; scoped mutations are serialized by a
#: process-wide lock (session.scoped_shuffle_partitions), so a
#: concurrent scoped caller blocks rather than silently inheriting the
#: narrow width.  A deployment that plans concurrent queries should
#: still give streaming jobs their own session (``spark.newSession()``
#: shares the context but isolates the conf).
_stream_shuffle_partitions = scoped_shuffle_partitions

_KEY_COLS = ["l_returnflag", "l_linestatus", "l_orderkey"]
_VALUE_COLS = ["l_linenumber", "l_suppkey"]

_STREAM_CELLS_SQL = f"""
    SELECT concat_ws({CHR0}, l_returnflag, l_linestatus, l_orderkey) AS row_key,
           CAST(l_partkey AS VARCHAR) AS col_name,
           string_agg(concat_ws({CHR0}, l_linenumber, l_suppkey), e'\\n'
                      ORDER BY concat_ws({CHR0}, l_linenumber, l_suppkey)) AS vals,
           CAST(count(*) AS BIGINT) AS n_vals
    FROM lineitem
    GROUP BY 1, 2
"""


@register(
    "stream_cell_build",
    oracle=f"""
    SELECT {esc_ctrl_sql('row_key')} AS row_key, col_name,
           {esc_ctrl_sql('vals')} AS vals, n_vals
    FROM ({_STREAM_CELLS_SQL})
    """,
)
def q_stream_cell_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``cell_build``: ingest lineitem through
    stream_to_cells (availableNow), read the salted store back, regroup
    across ingest batches, compare against the batch-build oracle."""
    li = t(spark, sf_dir, "lineitem")
    d = scratch_dir("stream_cell_build")
    # the file-stream source requires a DIRECTORY; scope the listing to
    # the one fixture file with pathGlobFilter instead of copying it
    stream = (
        spark.readStream.schema(li.schema)
        .option("pathGlobFilter", "lineitem.parquet")
        .parquet(sf_dir)
    )
    with _stream_shuffle_partitions(spark, 8):
        q = IS.stream_to_cells(
            stream,
            os.path.join(d, "store"),
            os.path.join(d, "ckpt"),
            key_cols=_KEY_COLS,
            col_name="l_partkey",
            value_cols=_VALUE_COLS,
            trigger_available_now=True,
        )
        _await(q)
    stored = spark.read.parquet(os.path.join(d, "store"))
    # cells from different micro-batches coexist in the store (per-batch
    # grouping, like the reference's per-file pushtoDB); the read path
    # regroups across them
    regrouped = (
        stored.select("row_key", "col_name", F.explode("values").alias("v"))
        .groupBy("row_key", "col_name")
        .agg(F.array_sort(F.collect_list("v")).alias("values"))
    )
    return regrouped.select(
        esc_ctrl("row_key").alias("row_key"),
        F.col("col_name"),
        esc_ctrl(F.array_join("values", "\n")).alias("vals"),
        F.size("values").cast("bigint").alias("n_vals"),
    )


@register_extra(
    "stream_running_totals",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CAST(value AS DOUBLE)), 6) AS value_sum
    FROM events GROUP BY 1
    """,
)
def q_stream_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming gate: running_user_totals (GroupState across 4
    micro-batches) must converge to the plain batch aggregate.  Update
    mode re-emits per batch; the final row per user (max n_events) is
    the converged total.  Sums rounded to 6 decimals on both sides —
    state accumulates in arrival order, the oracle in scan order."""
    # value cast to double BEFORE streaming: the state's pandas sum then
    # accumulates in float64, matching the oracle's double sum to within
    # ordering error (absorbed by the 6-decimal rounding)
    ev = t(spark, sf_dir, "events").select(
        "user_id", F.col("value").cast("double").alias("value")
    )
    # 2 files + maxFilesPerTrigger=1 → 2 micro-batches: the minimum
    # that still makes the state genuinely carry across batches instead
    # of one-shotting (the cross-batch property this query gates); each
    # extra micro-batch is pure fixed cost — planning + state-store
    # commit + sink commit — with no additional property exercised
    # (tests/test_streaming.py separately drives a 4-batch run)
    src = _source_copy(ev, "stream_running_totals", sf_dir, nfiles=2)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = f"rt_{uuid.uuid4().hex[:12]}"
    # the stream's 1.5k active users spread fine over 8 state partitions
    # (see _stream_shuffle_partitions)
    with _stream_shuffle_partitions(spark, 8):
        q = (
            ST.running_user_totals(stream)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
    emitted = spark.table(sink)
    return emitted.groupBy("user_id").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.round(F.max_by("value_sum", "n_events"), 6).alias("value_sum"),
    )


@register_extra("stream_dedupe", oracle="SELECT event_id FROM events")
def q_stream_dedupe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-only streaming dedup gate: events ∪ copies of event_id % 7 == 0
    with SHIFTED timestamps — dropDuplicatesWithinWatermark must remove
    them anyway (same key, different event time), leaving each original
    event_id exactly once.  Which physical record survives is
    nondeterministic, so the gated output is the key column alone."""
    ev = t(spark, sf_dir, "events").select("event_id", "ts")
    dups = ev.filter(F.col("event_id") % 7 == 0).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 10 MINUTES")
    )
    # one file → one micro-batch: every duplicate lands inside the live
    # watermark horizon, so the dedup guarantee is total
    src = _source_copy(ev.union(dups), "stream_dedupe", sf_dir, nfiles=1)
    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    sink = f"dd_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle_partitions(spark, 8):
        q = (
            ST.stream_dedupe(stream, key="event_id", watermark="1 hour")
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
    return spark.table(sink).select("event_id")


def _time_split_copy(df, name: str, sf_dir: str, t_col: str, mid: int) -> str:
    """Two-file source copy split BY TIME (not round-robin): file 00
    holds t < mid, file 01 the rest, with explicit mtimes so the file
    stream processes them oldest-first.  This is the arrival contract a
    sessionizing stream has anyway (per-key time order across batches);
    built once per interpreter like _source_copy."""
    import glob
    import shutil

    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(stable_scratch_dir(f"{name}_{tag}"), "src")
    if not os.path.exists(os.path.join(d, "_READY")):
        os.makedirs(d, exist_ok=True)
        from pyspark.sql import functions as F  # noqa: PLC0415

        for i, part in enumerate(
            (df.filter(F.col(t_col) < mid), df.filter(F.col(t_col) >= mid))
        ):
            tmp = os.path.join(d, f"_tmp{i}")
            part.coalesce(1).write.mode("overwrite").parquet(tmp)
            src_file = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
            dst = os.path.join(d, f"{i:02d}.parquet")
            shutil.move(src_file, dst)
            shutil.rmtree(tmp)
            os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        open(os.path.join(d, "_READY"), "w").close()
    return d


#: Session gap for the sessionize gate: 1 day.  The fixture's ~20
#: events/user/month sit ~1.5 days apart on average, so users get a
#: handful of multi-event sessions AND plenty of gap breaks — and many
#: sessions straddle the mid-month file boundary, which is the
#: cross-batch open-session state this gate exists to verify.
_SESSION_GAP = 86400
#: epoch seconds of 2024-01-16 — mid-month split point for the fixture.
_SESSION_MID = 1705363200


@register(
    "stream_sessionize",
    oracle=f"""
    WITH o AS (
        -- floor(): Spark's unix_timestamp TRUNCATES sub-second parts,
        -- DuckDB's double->bigint cast rounds — floor matches truncate
        SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
               CAST(value AS DOUBLE) AS v
        FROM events
    ),
    m AS (
        SELECT user_id, t, v,
               CASE WHEN lag(t) OVER w IS NULL
                         OR t - lag(t) OVER w > {_SESSION_GAP}
                    THEN 1 ELSE 0 END AS brk
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t)
    ),
    g AS (
        SELECT user_id, t, v,
               sum(brk) OVER (PARTITION BY user_id ORDER BY t
                              ROWS UNBOUNDED PRECEDING) AS sid
        FROM m
    )
    SELECT user_id, CAST(min(t) AS BIGINT) AS session_start,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(v), 6) AS value_sum
    FROM g GROUP BY user_id, sid
    """,
)
def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming sessionization (streaming.stateful.sessionize):
    1-day-gap sessions built across TWO time-split micro-batches — the
    open session at the file boundary carries in GroupState and is
    extended or closed by the second batch, so the cross-batch state
    machine (not just per-batch grouping) is what must match the
    oracle's gaps-and-islands replay.  Update-mode provisional rows
    converge via max-n_events per (user, session_start), the same
    convergence rule as stream_running_totals."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_timestamp("ts").alias("t"),
        F.col("value").cast("double").alias("value"),
    )
    src = _time_split_copy(
        ev, "stream_sessionize", sf_dir, t_col="t", mid=_SESSION_MID
    )
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    sink = f"ss_{uuid.uuid4().hex[:12]}"
    with _stream_shuffle_partitions(spark, 8):
        q = (
            ST.sessionize(stream, gap_seconds=_SESSION_GAP)
            .writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
    emitted = spark.table(sink)
    final = emitted.groupBy("user_id", "session_start").agg(
        F.max("n_events").cast("bigint").alias("n_events"),
        F.round(F.max_by("value_sum", "n_events"), 6).alias("value_sum"),
    )
    return final.select("user_id", "session_start", "n_events", "value_sum")


#: view->click correlation window for the stream-stream join gate: 6 h.
#: ~2.2 events/user/day in the fixture gives each view a realistic
#: handful of candidate clicks, and plenty of pairs straddle the
#: mid-month file boundary — the cross-batch join state this gate
#: exists to verify.
_SSJ_LAG = 6 * 3600


@register(
    "stream_stream_join",
    oracle="""
    SELECT v.event_id AS view_id, c.event_id AS click_id, v.user_id,
           CAST(epoch_us(c.ts) - epoch_us(v.ts) AS BIGINT) AS lag_us
    FROM events v JOIN events c
      ON v.user_id = c.user_id
     AND v.event_type = 'view' AND c.event_type = 'click'
     AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 6 HOUR
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join
    (streaming.join_stream.stream_interval_join): views and clicks
    arrive as two independent file streams, each time-split at
    mid-month into two micro-batches, inner-joined on user within a
    6 h event-time lag.  A batch-1 view matching a batch-2 click must
    survive in the symmetric-hash-join state store across the batch
    boundary — and the 1 h watermark's eviction must NOT drop it (for
    in-order arrival the eviction bound ``watermark - max_lag`` is
    strictly older than anything a future right row can match, so the
    streamed result equals the batch join row-for-row; the oracle IS
    that batch join)."""
    import datetime as dt

    mid = dt.datetime(2024, 1, 16)
    ev = t(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("v_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
    )
    vsrc = _time_split_copy(views, "ssj_views", sf_dir, t_col="v_ts", mid=mid)
    csrc = _time_split_copy(clicks, "ssj_clicks", sf_dir, t_col="c_ts", mid=mid)
    sv = (
        spark.readStream.schema(spark.read.parquet(vsrc).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(vsrc)
    )
    sc = (
        spark.readStream.schema(spark.read.parquet(csrc).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(csrc)
    )
    joined = SJ.stream_interval_join(
        sv,
        sc,
        key="user_id",
        left_ts="v_ts",
        right_ts="c_ts",
        max_lag_seconds=_SSJ_LAG,
        watermark="1 hour",
    ).select(
        "view_id",
        "click_id",
        "user_id",
        (F.unix_micros("c_ts") - F.unix_micros("v_ts")).alias("lag_us"),
    )
    sink = f"ssj_{uuid.uuid4().hex[:12]}"
    # width 4 (not the streaming default 8): the join keeps FOUR state
    # stores per partition (key/index x two sides), so store-commit
    # fixed cost scales steeper in width than single-store ops — at the
    # fixture's 150 join keys, 8 -> 4 saves ~0.6 s of pure commit
    # overhead (qbench med 3.94 -> 3.33) with 37 keys/partition
    with _stream_shuffle_partitions(spark, 4):
        q = (
            joined.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        _await(q)
    return spark.table(sink).select("view_id", "click_id", "user_id", "lag_us")


_STREAM_INCR_ORACLE: str


def _build_stream_incr_oracle() -> str:
    from .queries_ext import _INCR_BATCH_SQL, _SHINGLES_SQL, _TOKS

    return """
    WITH hist AS (SELECT doc_id, text FROM documents),
    batch AS ({incr}),
    corpus AS (
        SELECT doc_id, text, -1 AS bk FROM hist
        UNION ALL
        SELECT doc_id, text, CAST(doc_id % 3 AS INT) AS bk FROM batch
    ),
    exact AS (
        SELECT DISTINCT b.doc_id FROM batch b JOIN corpus h
        ON b.text = h.text AND h.bk < CAST(b.doc_id % 3 AS INT)
    ),
    bsh AS (SELECT doc_id, {sh} AS shingles
            FROM (SELECT doc_id, {toks} AS tks FROM batch)
            WHERE len(tks) > 0),
    csh AS (SELECT doc_id, bk, {sh} AS shingles
            FROM (SELECT doc_id, bk, {toks} AS tks FROM corpus)
            WHERE len(tks) > 0),
    near AS (
        SELECT DISTINCT b.doc_id
        FROM bsh b JOIN csh h
          ON h.bk < CAST(b.doc_id % 3 AS INT)
         AND least(len(b.shingles), len(h.shingles))
             >= 0.5 * greatest(len(b.shingles), len(h.shingles))
        WHERE CAST(len(list_intersect(b.shingles, h.shingles)) AS DOUBLE)
              / (len(b.shingles) + len(h.shingles)
                 - len(list_intersect(b.shingles, h.shingles))) >= 0.5
    )
    SELECT b.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN n.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS verdict,
           CAST(b.doc_id % 3 AS BIGINT) AS ingest_batch
    FROM batch b LEFT JOIN exact e ON b.doc_id = e.doc_id
                 LEFT JOIN near n ON b.doc_id = n.doc_id
    """.format(
        incr=_INCR_BATCH_SQL, sh=_SHINGLES_SQL, toks=_TOKS
    )


_STREAM_INCR_ORACLE = _build_stream_incr_oracle()


@register_extra(
    "stream_incremental_dedup",
    # Sequential semantics, fully SQL-replayed: a batch-k document
    # classifies against history PLUS micro-batches j < k only (the
    # store is read before it is appended), never its own batch.
    # Micro-batch order is pinned by the source files' ascending
    # mtimes + maxFilesPerTrigger=1, and the emitted ingest_batch
    # column is part of the hash — a reordered or merged micro-batch
    # flips the gate red.  Near tier replays true Jaccard >= 0.5 with
    # the size-ratio prefilter (banding recall at 96/2 is ~1-1e-6 at
    # the threshold, same argument as dedup_incremental's oracle).
    oracle=_STREAM_INCR_ORACLE,
)
def q_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup (streaming.dedup_stream): three
    micro-batches of incoming documents classify sequentially against
    a signature store seeded with the history corpus and grown by each
    processed batch — history is never re-shingled, a batch never
    self-compares, and the verdict log records which micro-batch made
    each decision."""
    import glob
    import shutil

    from ..plans.queries_ext import _incr_batch

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = _incr_batch(docs)
    d = scratch_dir("stream_incremental_dedup")
    src_dir = os.path.join(d, "src")
    os.makedirs(src_dir)
    # one file per micro-batch, mtimes ascending: the file stream with
    # maxFilesPerTrigger=1 then processes b0 -> b1 -> b2 deterministically
    for k in range(3):
        tmp = os.path.join(d, f"tmp{k}")
        batch.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, f"b{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + 1000 * k, 1_000_000_000 + 1000 * k))
        shutil.rmtree(tmp)
    store = os.path.join(d, "store")
    DS.seed_signature_store(docs, store, num_hashes=96)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    with _stream_shuffle_partitions(spark, 8):
        q = DS.stream_incremental_dedup(
            stream,
            store,
            os.path.join(d, "verdicts"),
            os.path.join(d, "ckpt"),
            num_hashes=96,
            threshold=0.5,
            trigger_available_now=True,
        )
        _await(q)
    return spark.read.parquet(os.path.join(d, "verdicts")).select(
        "doc_id", "verdict", F.col("ingest_batch").cast("bigint").alias("ingest_batch")
    )


@register_extra(
    "ann_ivf_streamed",
    # identical_ok contract like ann_ivf_indexed: the index built by
    # STREAMING ingest (3 micro-batches appended to the partitioned
    # store against a frozen codebook) must return exactly the
    # inline-rebuilt search over the same vectors — same (query,
    # corpus, rank) triples, cosines to 6 decimals.  Assignment is
    # per-row, so append == rebuild is the maintained-index invariant
    # this gate pins.
    oracle="""
    SELECT vec_id AS query_id, TRUE AS identical_ok
    FROM embeddings WHERE vec_id < 10
    """,
)
def q_ann_ivf_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming IVF index maintenance (streaming.dedup_stream.
    stream_ivf_ingest): embedding batches append to the
    partitioned-by-list coarse index continuously; search over the
    read-back store must equal a full rebuild."""
    import glob
    import shutil

    from ..operators import similarity as SIM

    emb = t(spark, sf_dir, "embeddings")
    d = scratch_dir("ann_ivf_streamed")
    src_dir = os.path.join(d, "src")
    os.makedirs(src_dir)
    for k in range(3):
        tmp = os.path.join(d, f"tmp{k}")
        emb.filter(F.col("vec_id") % 3 == k).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, f"b{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
        shutil.rmtree(tmp)
    cents = pinning.pin(
        SIM.build_ivf_centroids(emb, num_centroids=16), "ivf_centroids"
    )
    stream = spark.readStream.schema(emb.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    with _stream_shuffle_partitions(spark, 8):
        q = DS.stream_ivf_ingest(
            stream,
            cents,
            os.path.join(d, "index"),
            os.path.join(d, "ckpt"),
            trigger_available_now=True,
        )
        _await(q)
    stored = spark.read.parquet(os.path.join(d, "index")).drop("ingest_batch")
    queries = emb.filter(F.col("vec_id") < 10)
    k = ["query_id", "corpus_id"]
    a = SIM.ivf_topk(emb, queries, cents, k=10, nprobe=4, index=stored).select(
        *k, F.col("cos").alias("cos_a"), F.col("rank").alias("rank_a")
    )
    b = SIM.ivf_topk(emb, queries, cents, k=10, nprobe=4).select(
        *k, F.col("cos").alias("cos_b"), F.col("rank").alias("rank_b")
    )
    diff = (
        a.join(b, k, "full_outer")
        .filter(
            F.col("cos_a").isNull()
            | F.col("cos_b").isNull()
            | (F.col("cos_a") != F.col("cos_b"))
            | (F.col("rank_a") != F.col("rank_b"))
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_diff"))
    )
    return (
        queries.select(F.col("vec_id").cast("bigint").alias("query_id"))
        .join(diff, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_diff", F.lit(0)).eqNullSafe(0).alias("identical_ok"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming CDC apply: change-log stream MERGEd into the cell store
# ---------------------------------------------------------------------------


def _cdc_batches(spark: SparkSession, sf_dir: str) -> str:
    """Three ordered CDC batch files (explicit mtimes, the sessionize
    recipe) against the lineitem cell store:

      batch 0: update every 401st order's cells to v1; insert NEW
               nation keys TWICE in one batch (seq 10 'ins0', seq 11
               'ins1') — the within-batch last-writer-wins probe
      batch 1: re-update every 802nd order's cells to v2 (a subset of
               batch 0's updates — cross-batch overwrite); delete every
               403rd order's cells (disjoint from 401 at every SF:
               401*403 > max orderkey)
      batch 2: delete the NEW nation keys with nationkey%4==0; insert
               NEW2 region keys
    """
    import glob
    import shutil

    from .queries import row_key as _row_key

    tag = sf_dir.strip("/").replace("/", "_")
    d = os.path.join(stable_scratch_dir(f"stream_cdc_apply_{tag}"), "src")
    if os.path.exists(os.path.join(d, "_READY")):
        return d
    os.makedirs(d, exist_ok=True)
    li = t(spark, sf_dir, "lineitem")

    def keyset(cond):
        return (
            li.filter(cond)
            .select(
                _row_key("l_returnflag", "l_linestatus", "l_orderkey").alias(
                    "row_key"
                ),
                F.col("l_partkey").cast("string").alias("col_name"),
            )
            .distinct()
        )

    def chg(df, val_expr, op, seq):
        values = (
            F.array(val_expr)
            if val_expr is not None
            else F.lit(None).cast("array<string>")
        )
        return df.select(
            "row_key",
            "col_name",
            values.alias("values"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("bigint").alias("seq"),
        )

    nation_keys = t(spark, sf_dir, "nation").select(
        F.concat(
            F.lit("NEW"), F.lit("\x00"), F.col("n_nationkey").cast("string")
        ).alias("row_key"),
        F.lit("q").alias("col_name"),
        "n_nationkey",
        "n_name",
    )
    b0 = chg(
        keyset(F.col("l_orderkey") % 401 == 0),
        F.concat(F.lit("v1:"), F.col("col_name")),
        "U",
        1,
    ).unionByName(
        chg(
            nation_keys.filter(F.col("n_nationkey") % 2 == 0),
            F.concat(F.lit("ins0:"), F.col("n_name")),
            "U",
            10,
        ).unionByName(
            chg(
                nation_keys.filter(F.col("n_nationkey") % 2 == 0),
                F.concat(F.lit("ins1:"), F.col("n_name")),
                "U",
                11,
            )
        )
    )
    b1 = chg(
        keyset(F.col("l_orderkey") % 802 == 0),
        F.concat(F.lit("v2:"), F.col("col_name")),
        "U",
        20,
    ).unionByName(chg(keyset(F.col("l_orderkey") % 403 == 0), None, "D", 21))
    b2 = chg(
        nation_keys.filter(F.col("n_nationkey") % 4 == 0), None, "D", 30
    ).unionByName(
        chg(
            t(spark, sf_dir, "region").select(
                F.concat(
                    F.lit("NEW2"),
                    F.lit("\x00"),
                    F.col("r_regionkey").cast("string"),
                ).alias("row_key"),
                F.lit("q").alias("col_name"),
                "r_name",
            ),
            F.concat(F.lit("ins3:"), F.col("r_name")),
            "U",
            31,
        )
    )
    for i, frame in enumerate((b0, b1, b2)):
        tmp = os.path.join(d, f"_tmp{i}")
        frame.coalesce(1).write.mode("overwrite").parquet(tmp)
        src_file = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(d, f"{i:02d}.parquet")
        shutil.move(src_file, dst)
        shutil.rmtree(tmp)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
    open(os.path.join(d, "_READY"), "w").close()
    return d


@register_extra(
    "stream_cdc_apply",
    oracle=f"""
    WITH cells AS ({_CELLS_SQL}),
    upd1 AS (
        SELECT DISTINCT
               concat_ws({CHR0}, l_returnflag, l_linestatus, l_orderkey) AS row_key,
               CAST(l_partkey AS VARCHAR) AS col_name
        FROM lineitem WHERE l_orderkey % 401 = 0
    ),
    upd2 AS (
        SELECT DISTINCT
               concat_ws({CHR0}, l_returnflag, l_linestatus, l_orderkey) AS row_key,
               CAST(l_partkey AS VARCHAR) AS col_name
        FROM lineitem WHERE l_orderkey % 802 = 0
    ),
    del2 AS (
        SELECT DISTINCT
               concat_ws({CHR0}, l_returnflag, l_linestatus, l_orderkey) AS row_key,
               CAST(l_partkey AS VARCHAR) AS col_name
        FROM lineitem WHERE l_orderkey % 403 = 0
    ),
    final AS (
        SELECT c.row_key, c.col_name, c.vals, c.n_vals FROM cells c
        WHERE NOT EXISTS (SELECT 1 FROM upd1 u
                          WHERE u.row_key = c.row_key
                            AND u.col_name = c.col_name)
          AND NOT EXISTS (SELECT 1 FROM del2 x
                          WHERE x.row_key = c.row_key
                            AND x.col_name = c.col_name)
        UNION ALL
        SELECT u.row_key, u.col_name, concat('v1:', u.col_name),
               CAST(1 AS BIGINT)
        FROM upd1 u
        WHERE NOT EXISTS (SELECT 1 FROM upd2 v
                          WHERE v.row_key = u.row_key
                            AND v.col_name = u.col_name)
        UNION ALL
        -- orderkey 0 divides 401, 802 AND 403: its cells carry both the
        -- v2 update (seq 20) and the delete (seq 21) in one batch, and
        -- the HIGHER seq wins — the delete; the overlap is deliberate
        -- (it probes within-batch U-then-D compaction)
        SELECT u.row_key, u.col_name, concat('v2:', u.col_name),
               CAST(1 AS BIGINT)
        FROM upd2 u
        WHERE NOT EXISTS (SELECT 1 FROM del2 x
                          WHERE x.row_key = u.row_key
                            AND x.col_name = u.col_name)
        UNION ALL
        SELECT concat('NEW', {CHR0}, n_nationkey), 'q',
               concat('ins1:', n_name), CAST(1 AS BIGINT)
        FROM nation WHERE n_nationkey % 2 = 0 AND n_nationkey % 4 != 0
        UNION ALL
        SELECT concat('NEW2', {CHR0}, r_regionkey), 'q',
               concat('ins3:', r_name), CAST(1 AS BIGINT)
        FROM region
    )
    SELECT {esc_ctrl_sql('row_key')} AS row_key, col_name,
           {esc_ctrl_sql('vals')} AS vals, n_vals,
           CAST({duckdb_salt_sql('row_key')} AS INT) AS salt
    FROM final
    """,
)
def q_stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply under a differential gate: the full lineitem
    cell store is written once, then a three-micro-batch change log
    (updates, a cross-batch re-update, deletes, inserts, a within-batch
    seq collision) streams through stream_cdc_merge (foreachBatch →
    merge_cells), and the WHOLE final store — values AND partition-dir
    salt — is read back under the hash.  The oracle replays the change
    log relationally in log order, so a wrong batch order, a lost
    delete, a resurrected cell, a seq-compaction miss (ins0 surviving
    over ins1), or a misplaced insert all hash-mismatch."""
    from ..operators import cellstore as CS
    from .queries import lineitem_cells

    cells = lineitem_cells(spark, sf_dir)
    d = scratch_dir("stream_cdc_apply")
    store = os.path.join(d, "store")
    CS.write_cells(cells, store, mode="overwrite")
    src = _cdc_batches(spark, sf_dir)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    with _stream_shuffle_partitions(spark, 8):
        q = IS.stream_cdc_merge(
            stream,
            store,
            os.path.join(d, "ckpt"),
            trigger_available_now=True,
        )
        _await(q)
    back = spark.read.parquet(store)
    return back.select(
        esc_ctrl("row_key").alias("row_key"),
        F.col("col_name"),
        esc_ctrl(F.array_join("values", "\n")).alias("vals"),
        F.size("values").cast("bigint").alias("n_vals"),
        F.col("salt").cast("int").alias("salt"),
    )


@register_extra(
    "trigram_streamed",
    # FULL oracle (not just an identity gate): the index maintained by
    # streaming ingest must answer substring search identically to the
    # semantic contains-truth join — the same oracle as trigram_search
    # and trigram_indexed, so all three paths triangulate
    oracle="""
    SELECT CAST(q.qid AS BIGINT) AS qid, d.doc_id
    FROM documents d
    JOIN (VALUES (0, 'table value'), (1, 'merge batch'),
                 (2, 'slow filter'), (3, 'the line sort'),
                 (4, 'zebra')) AS q(qid, s)
      ON contains(lower(d.text), lower(q.s))
    """,
)
def q_trigram_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming substring-index maintenance (streaming.dedup_stream
    .stream_trigram_ingest): three document micro-batches append
    trigram postings + partial gram-df counts to the bucket-partitioned
    store; trigram_search_indexed over the read-back store must return
    the exact contains-truth result set."""
    import glob
    import shutil

    from ..operators.retrieval import trigram_search_indexed
    from ..plans.queries_features import _TRIGRAM_QUERIES

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    d = scratch_dir("trigram_streamed")
    src_dir = os.path.join(d, "src")
    os.makedirs(src_dir)
    for k in range(3):
        tmp = os.path.join(d, f"tmp{k}")
        docs.filter(F.col("doc_id") % 3 == k).coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, f"b{k}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
        shutil.rmtree(tmp)
    idx = os.path.join(d, "index")
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    with _stream_shuffle_partitions(spark, 8):
        q = DS.stream_trigram_ingest(
            stream,
            idx,
            os.path.join(d, "ckpt"),
            n_buckets=64,
            trigger_available_now=True,
        )
        _await(q)
    queries = spark.createDataFrame(
        list(_TRIGRAM_QUERIES), "qid bigint, q string"
    )
    return trigram_search_indexed(spark, idx, queries, docs, k_grams=4)
