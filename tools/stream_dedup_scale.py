"""Streaming incremental dedup: per-batch cost as the signature store
grows.

The op's recurring cost is |batch| x (band fan-out) against the STORE,
which grows by one batch per batch — the question a deployment asks is
how the per-micro-batch wall time trends as the store accumulates.
This harness seeds the store with the sf0.1 corpus (5k docs), streams
N batches of replicated documents (near-dup-rich: exact copies and 70%
prefixes of history), and reports each micro-batch's duration from the
streaming progress log plus the final store size.

Usage: python tools/stream_dedup_scale.py [n_batches]   (default 6)
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
N_BATCHES = int(sys.argv[1]) if len(sys.argv) > 1 else 6


def main() -> None:
    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators.dedup import tokens
    from applications_analytics_midas_hbase_metrics_spark.session import (
        get_spark,
        scoped_shuffle_partitions,
    )
    from applications_analytics_midas_hbase_metrics_spark.streaming import (
        dedup_stream as DS,
    )

    spark = get_spark(app_name="midas-stream-dedup-scale", cpus="32")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    toks = tokens("text")
    prefix = F.array_join(
        F.slice(toks, 1, F.ceil(F.size(toks) * 0.7).cast("int")), " "
    )
    d = tempfile.mkdtemp(prefix="stream_dedup_scale_")
    src_dir = os.path.join(d, "src")
    os.makedirs(src_dir)
    # batch k: exact copies of doc_id % N == k plus 70% prefixes of
    # doc_id % N == (k+1) % N — every batch half exact-dup, half near-dup
    for k in range(N_BATCHES):
        b = docs.filter(F.col("doc_id") % N_BATCHES == k).select(
            (F.col("doc_id") + 1_000_000 * (k + 1)).alias("doc_id"), "text"
        ).union(
            docs.filter(F.col("doc_id") % N_BATCHES == (k + 1) % N_BATCHES).select(
                (F.col("doc_id") + 10_000_000 * (k + 1)).alias("doc_id"),
                prefix.alias("text"),
            )
        )
        tmp = os.path.join(d, f"tmp{k}")
        b.coalesce(1).write.parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        dst = os.path.join(src_dir, f"b{k:02d}.parquet")
        shutil.move(part, dst)
        os.utime(dst, (1_000_000_000 + 1000 * k,) * 2)
        shutil.rmtree(tmp)
    store = os.path.join(d, "store")
    t0 = time.monotonic()
    DS.seed_signature_store(docs, store, num_hashes=96)
    t_seed = round(time.monotonic() - t0, 2)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    with scoped_shuffle_partitions(spark, 16):
        q = DS.stream_incremental_dedup(
            stream,
            store,
            os.path.join(d, "verdicts"),
            os.path.join(d, "ckpt"),
            num_hashes=96,
            trigger_available_now=True,
        )
        if not q.awaitTermination(560):
            q.stop()
            raise RuntimeError("stream timed out")
        progress = [json.loads(str(p)) for p in q.recentProgress]
    verdicts = spark.read.parquet(os.path.join(d, "verdicts"))
    dist = {
        r.verdict: r["count"]
        for r in verdicts.groupBy("verdict").count().collect()
    }
    batch_secs = [
        round(p["durationMs"]["triggerExecution"] / 1000, 2)
        for p in progress
        if p.get("numInputRows", 0) > 0
    ]
    n_store = spark.read.parquet(os.path.join(store, "hashes")).count()

    # maintenance window: compact the append-grown store, prove verdict
    # identity on a probe batch, and time a probe classification against
    # the fragmented vs compacted store
    probe = spark.read.parquet(os.path.join(src_dir, "b00.parquet"))

    def classify_wall():
        t0 = time.monotonic()
        out = DS.classify_against_store(
            probe,
            spark.read.parquet(os.path.join(store, "hashes")),
            spark.read.parquet(os.path.join(store, "sigs")),
            num_hashes=96,
        )
        rows = sorted((r.doc_id, r.verdict) for r in out.collect())
        from applications_analytics_midas_hbase_metrics_spark.operators import pinning

        pinning.release_all()
        return rows, round(time.monotonic() - t0, 2)

    v_before, t_frag = classify_wall()
    t0 = time.monotonic()
    cstats = DS.compact_signature_store(spark, store, files_per_table=8)
    t_compact = round(time.monotonic() - t0, 2)
    v_after, t_comp = classify_wall()
    print(
        json.dumps(
            {
                "n_batches": N_BATCHES,
                "seed_sec": t_seed,
                "per_batch_sec": batch_secs,
                "verdicts": dist,
                "store_rows_final": n_store,
                "compaction": {
                    "stats": cstats,
                    "compact_sec": t_compact,
                    "probe_sec_fragmented": t_frag,
                    "probe_sec_compacted": t_comp,
                    "verdict_identity": v_before == v_after,
                },
            }
        )
    )
    shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
