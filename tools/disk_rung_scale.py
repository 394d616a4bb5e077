"""On-disk scale rung (round 14, VERDICT missing #1): generate a
multi-GB documents/embeddings corpus on DISK, then run the composed
curation pipeline, the dedup family (exact / minhash / corpus-wide
paragraph keep-first), and an ANN build end-to-end at it — converting
the in-memory flat-wall extrapolations (tools/*_scale.py, ≤5.12M rows
all-in-RAM) into measured wall / spill / peak-memory evidence over a
real parquet scan.

Corpus design (controlled duplicate structure, bounded pair counts):
each sf0.1 base document (5,000 rows) is replicated ``mult`` times;
``doc_id = base_id * mult + rep``; text =

    rep == 1:      EXACT copy of the rep-0 text (5,000 exact-dup pairs)
    rep == 2:      90%-token prefix of rep-0 (5,000 near-dup pairs,
                   J ≈ 0.8)
    rep 0, 3..18:  base_text + "\\n\\n" + tail — the base paragraph is
                   HOT (19 copies per base: the corpus-wide paragraph
                   keep-first regime) but the hot GROUP is bounded at
                   19 docs, so even at the shared paragraph's residual
                   Jaccard (~0.16) the LSH candidate pairs stay
                   ~0.5M corpus-wide, linear in bases
    rep >= 19:     tail only — every 3-shingle is unique per
                   (base, rep, i) hex token, so cross-doc Jaccard is 0
                   and the pair table cannot go quadratic

``tail`` = ``tail_tokens`` hex tokens from xxhash64(base, rep, i).

Embeddings: each base vector (2,000) replicated ``emb_mult`` times
with a deterministic per-(vec, rep, dim) perturbation — distinct
vectors, stable centroids.

Usage: python tools/disk_rung_scale.py [mult] [emb_mult] [keep]
  mult      documents replication (default 150 → 765k docs incl the
            pipeline's planted copies, ~1.9 GB raw text)
  emb_mult  embeddings replication (default 256 → 512k vectors)
  keep      pass 'keep' to leave the rung directory on disk

Env knobs (round-14 follow-ups):
  RUNG_REUSE=1         reuse an existing RUNG_DIR instead of
                       regenerating (mult/emb_mult must match it)
  RUNG_STEPS=a,b,...   run only the named steps (default: all of
                       dedup_exact dedup_paragraphs dedup_minhash
                       ann curation)
  RUNG_PIPELINE_PIN=all_disk  run the curation pipeline with
                       pinning.SMALL_FRAME_BYTES forced to 0, so every
                       pin is a DISK_ONLY checkpoint — the flip the FIRST
                       rung run measured: at this rung the in-memory
                       checkpoint's MEMORY_AND_DISK deserialized unroll
                       serializes all 32 tasks on the
                       UnifiedMemoryManager lock (jstack:
                       reserveUnrollMemoryForThisTask convoy) and the pin
                       stage alone ran > 1 h before being killed

Evidence printed per step: wall seconds, output rows, result checksum
(xxhash64 bit_xor — comparable across reruns: every operator here is
deterministic by construction), then a Spark-metrics rollup (shuffle
read/write, memory/disk spill) from the live REST API and the JVM's
peak RSS from /proc.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")
RUNG_DIR = os.environ.get("RUNG_DIR", "/tmp/midas_rung")


def _rest(spark, path: str):
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    app = spark.sparkContext.applicationId
    url = f"http://localhost:{port}/api/v1/applications/{app}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def _metrics(spark) -> dict:
    stages = _rest(spark, "stages?status=complete")
    agg = {
        "shuffle_read_gb": sum(s["shuffleReadBytes"] for s in stages) / 2**30,
        "shuffle_write_gb": sum(s["shuffleWriteBytes"] for s in stages) / 2**30,
        "mem_spill_gb": sum(s["memoryBytesSpilled"] for s in stages) / 2**30,
        "disk_spill_gb": sum(s["diskBytesSpilled"] for s in stages) / 2**30,
        "input_gb": sum(s["inputBytes"] for s in stages) / 2**30,
        "n_stages": len(stages),
    }
    # peak RSS of this (local-mode) JVM = driver AND executor memory
    try:
        import subprocess

        pids = subprocess.run(
            ["pgrep", "-f", "disk-rung"], capture_output=True, text=True
        ).stdout.split()
        hwm = 0
        for pid in pids:
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for ln in fh:
                        if ln.startswith("VmHWM"):
                            hwm = max(hwm, int(ln.split()[1]))
            except OSError:
                pass
        agg["jvm_peak_rss_gb"] = hwm / 2**20
    except Exception:  # noqa: BLE001
        agg["jvm_peak_rss_gb"] = None
    return agg


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 150
    emb_mult = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    keep = len(sys.argv) > 3 and sys.argv[3] == "keep"

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.session import get_spark

    # own session: UI enabled for the REST metrics rollup (the factory
    # disables it); everything else mirrors the factory's tuning
    os.environ["SPARK_GRAFT_UI"] = "1"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("disk-rung")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4049")
        .config("spark.driver.memory", os.environ["SPARK_DRIVER_MEMORY"])
        # mirror the factory (round 15): lineage-kept pins nest the
        # whole composed plan, so late-stage jobs ship large per-task
        # SQL-metric payloads; the 1g default tripped at this rung
        .config("spark.driver.maxResultSize", "4g")
        # ... and the plan STRING tree-expands the pin DAG: AQE's
        # per-replan explainString render blew Java's 1 GiB string
        # limit on the pipeline's final action at this rung (see
        # session.py) — cap it like the factory does
        .config("spark.sql.maxPlanStringLength", str(32 * 2**20))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    get_spark  # noqa: B018 — imported for the PYTHONPATH side effect

    # ------------------------------------------------------------------
    # 1. generate the rung
    # ------------------------------------------------------------------
    reuse = os.environ.get("RUNG_REUSE") == "1" and os.path.isdir(
        f"{RUNG_DIR}/documents.parquet"
    )
    if reuse:
        print(f"RUNG reused from {RUNG_DIR}", flush=True)
    if not reuse:
        shutil.rmtree(RUNG_DIR, ignore_errors=True)
        os.makedirs(RUNG_DIR)
    t0 = time.monotonic()
    gen_s = 0.0
    if not reuse:
        base = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        reps = spark.range(mult).select(F.col("id").cast("int").alias("rep"))
        tail_tokens = 128
        tail = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.lit(tail_tokens)),
                lambda i: F.hex(
                    F.xxhash64(F.col("base_id"), F.col("tail_rep"), i)
                ),
            ),
            " ",
        )

        spread = base.select(
            F.col("doc_id").alias("base_id"),
            F.col("text").alias("base_text"),
            "lang",
            "source",
        ).crossJoin(F.broadcast(reps))
        # rep 1 copies rep 0's text exactly; rep 2 takes rep 0's 90%-token
        # prefix; reps 0 and 3..18 carry the hot base paragraph; rep >= 19
        # is tail-only (see module docstring for the pair-count bounds)
        eff_rep = F.when(F.col("rep").isin(1, 2), F.lit(0)).otherwise(
            F.col("rep")
        )
        body = F.when(
            F.col("tail_rep") < 19,
            F.concat(F.col("base_text"), F.lit("\n\n"), tail),
        ).otherwise(tail)
        with_text = spread.withColumn("tail_rep", eff_rep).select(
            (F.col("base_id") * mult + F.col("rep")).alias("doc_id"),
            body.alias("text"),
            "lang",
            "source",
            "rep",
        )
        toks = F.split(F.col("text"), r"\s+")
        prefix90 = F.array_join(
            F.slice(toks, 1, F.ceil(F.size(toks) * 0.9).cast("int")), " "
        )
        docs = with_text.select(
            "doc_id",
            F.when(F.col("rep") == 2, prefix90).otherwise(F.col("text")).alias(
                "text"
            ),
            "lang",
            "source",
        ).withColumn("n_chars", F.length("text").cast("bigint"))
        docs.repartition(32).write.parquet(f"{RUNG_DIR}/documents.parquet")

        emb_base = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        ereps = spark.range(emb_mult).select(
            F.col("id").cast("int").alias("rep")
        )
        perturbed = F.transform(
            F.col("embedding"),
            lambda x, i: (
                x
                + (
                    F.pmod(F.xxhash64(F.col("vec_id"), F.col("rep"), i), F.lit(1000))
                    / F.lit(100000.0)
                ).cast("float")
            ).cast("float"),
        )
        emb = emb_base.crossJoin(F.broadcast(ereps)).select(
            (F.col("vec_id") * emb_mult + F.col("rep")).alias("vec_id"),
            perturbed.alias("embedding"),
            "label",
        )
        emb.repartition(8).write.parquet(f"{RUNG_DIR}/embeddings.parquet")
        gen_s = time.monotonic() - t0

    n_docs = spark.read.parquet(f"{RUNG_DIR}/documents.parquet").count()
    n_emb = spark.read.parquet(f"{RUNG_DIR}/embeddings.parquet").count()
    raw_gb = (
        spark.read.parquet(f"{RUNG_DIR}/documents.parquet")
        .agg(F.sum("n_chars"))
        .collect()[0][0]
        / 2**30
    )
    disk_gb = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(RUNG_DIR)
        for f in fs
    ) / 2**30
    print(
        f"RUNG {'reused' if reuse else 'generated'}: {n_docs} docs /"
        f" {n_emb} vecs, raw text {raw_gb:.2f} GiB, on-disk parquet"
        f" {disk_gb:.2f} GiB, gen {gen_s:.1f}s",
        flush=True,
    )

    # ------------------------------------------------------------------
    # 2. the workloads
    # ------------------------------------------------------------------
    from applications_analytics_midas_hbase_metrics_spark.operators import (
        dedup as D,
    )
    from applications_analytics_midas_hbase_metrics_spark.operators import (
        lines as LN,
    )
    from applications_analytics_midas_hbase_metrics_spark.operators import (
        similarity as SIM,
    )

    rd = lambda name: spark.read.parquet(f"{RUNG_DIR}/{name}.parquet")  # noqa: E731

    def checksum(df):
        cols = [F.col(c).cast("string") for c in df.columns]
        return tuple(
            df.select(
                F.bit_xor(F.xxhash64(*cols)).alias("c"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
        )

    def step(name, df_thunk):
        # thunk, not frame: eager pins (localCheckpoint / DISK_ONLY
        # persist) materialize during query CONSTRUCTION, so timing
        # must wrap the builder call, not just the checksum action
        t = time.monotonic()
        df = df_thunk() if callable(df_thunk) else df_thunk
        c, n = checksum(df)
        print(
            f"STEP {name}: rows={n} checksum={c & 0xFFFFFFFFFFFFFFFF:016x}"
            f" wall={time.monotonic() - t:.1f}s",
            flush=True,
        )

    steps = set(
        os.environ.get(
            "RUNG_STEPS",
            "dedup_exact,dedup_paragraphs,dedup_minhash,ann,curation",
        ).split(",")
    )

    if "dedup_exact" in steps:
        # exact dedup over the full rung
        step("dedup_exact", D.exact_duplicates(rd("documents")))

    if "dedup_paragraphs" in steps:
        # corpus-wide paragraph keep-first over the full rung (the
        # shared base paragraph appears `mult` times — the hot-unit
        # regime)
        step(
            "dedup_paragraphs",
            LN.dedup_units_across_corpus(rd("documents"), hash_units=True),
        )

    if "dedup_minhash" in steps:
        # minhash near-dup over the full rung: pair table is linear by
        # corpus design (see module docstring)
        step(
            "dedup_minhash",
            D.minhash_near_duplicates(
                rd("documents"),
                num_hashes=64,
                threshold=0.5,
                materialize=False,
            ),
        )

    if "dedup_ngram" in steps:
        # char-5-gram LSH near-dup over the full rung (round 16,
        # VERDICT #4): the declared query's banded-join shape at GB
        # scale — confirms the band join shuffles 8-byte band hashes
        # (not gram strings) and the candidate pair table stays linear
        # in bases at mult=150
        step(
            "dedup_ngram",
            D.ngram_near_duplicates(
                rd("documents"),
                n=5,
                num_hashes=64,
                threshold=0.5,
                materialize=False,
            ),
        )

    if "ann" in steps:
        # ANN: IVF build + 10-query probe over the full vector rung.
        # The timer wraps centroid CONSTRUCTION too (the round-14 run's
        # 52.4 s excluded it — timer bug, fixed; this is the honest
        # number the round-15 re-take records).
        emb_df = rd("embeddings").select("vec_id", "embedding")
        # orderBy before the limit: a bare limit(10) picks whichever
        # rows the scan surfaces first, which depends on the parquet
        # file layout of THIS generation — the round-15 re-take drew a
        # different probe set than round 14's and the step checksum
        # (a function of the probes) moved with it.  The ordered take
        # (TakeOrderedAndProject, still bounded) makes the probe set —
        # and therefore the checksum — a pure function of mult/emb_mult.
        queries = emb_df.filter(
            F.col("vec_id") % emb_mult == 0
        ).orderBy("vec_id").limit(10).localCheckpoint(eager=True)
        ivf_out = {}

        def _ann():
            cents = SIM.build_ivf_centroids(
                emb_df, num_centroids=64
            ).localCheckpoint(eager=True)
            out = SIM.ivf_topk(emb_df, queries, cents, k=10, nprobe=8)
            ivf_out["df"] = out.localCheckpoint(eager=True)
            return ivf_out["df"]

        step("ann_ivf_build_probe", _ann)
        # recall@10 at the rung (round-15 VERDICT ask): brute-force
        # ground truth over the SAME 10 queries — 10 × n_emb scored
        # rows, minutes not hours, and the rung's quality number
        truth = SIM.brute_force_topk(emb_df, queries, k=10)
        hits = (
            ivf_out["df"]
            .select("query_id", "corpus_id")
            .join(
                truth.select("query_id", "corpus_id"),
                ["query_id", "corpus_id"],
            )
            .count()
        )
        denom = truth.count()
        print(
            f"STEP ann_recall10: {hits}/{denom} ="
            f" {hits / max(denom, 1):.4f}",
            flush=True,
        )

    if "curation" in steps:
        # the composed ten-stage pipeline, full manifest, big-id plant
        # offset.  RUNG_PIPELINE_PIN selects the pin mode:
        #   policy (default) — operators/pinning.py's size-chosen flavors
        #     (checkpoint below SMALL_FRAME_BYTES, DISK_ONLY checkpoint
        #     above) — the mode the round-14 findings prescribed: the
        #     blanket-checkpoint unroll convoyed >1 h and the blanket-disk
        #     footprint blew 40× input at mult=150
        #   all_disk — the same pipeline with the threshold forced to 0,
        #     so every pin goes to disk
        import threading

        from applications_analytics_midas_hbase_metrics_spark.operators import (
            pinning,
        )
        from applications_analytics_midas_hbase_metrics_spark.plans.queries_curation import (
            q_curation_pipeline_full,
        )

        mode = os.environ.get("RUNG_PIPELINE_PIN", "policy")
        if mode == "all_disk":
            pinning.SMALL_FRAME_BYTES = 0
        label = f"curation_pipeline_full_{mode}pin"
        # TIME-SAMPLED pinned-footprint probe (round 16): a daemon thread
        # polls the block manager every 0.5 s for the whole step, so the
        # series brackets BOTH edges of every pin's lifetime.  The sum is
        # the block manager TOTAL — the number the "peak pinned <= ~3x
        # input" criterion is about.
        series = []
        stop = threading.Event()
        jsc = spark.sparkContext._jsc.sc()

        def _sample():
            while not stop.is_set():
                try:
                    live = jsc.getRDDStorageInfo()
                    series.append((
                        time.time(),
                        sum(i.diskSize() + i.memSize() for i in live),
                    ))
                except Exception:  # noqa: BLE001 — probe only
                    pass
                stop.wait(0.5)

        sampler = threading.Thread(target=_sample, daemon=True)
        sampler.start()
        with pinning.scope() as pipeline:
            step(
                label,
                lambda: q_curation_pipeline_full(
                    spark, RUNG_DIR, plant_offset=10**9
                ),
            )
            records = [(p.label, p.est, p.flavor) for p in pipeline.pins]
        time.sleep(1.5)  # one post-release sample closes the series
        stop.set()
        sampler.join(timeout=5)
        print("PIN records (label, est bytes, flavor):", records, flush=True)
        if series:
            t0 = series[0][0]
            peak_t, peak_b = max(series, key=lambda s: s[1])
            print(
                f"PIN peak pinned bytes: {peak_b}"
                f" ({peak_b / 2**30:.2f} GiB) at t+{peak_t - t0:.0f}s"
                f" of {series[-1][0] - t0:.0f}s"
                f" ({len(series)} samples @0.5s)",
                flush=True,
            )
            stride = max(1, len(series) // 40)
            print(
                "PIN footprint series (t_rel_s, GiB):",
                [
                    (round(t - t0), round(b / 2**30, 2))
                    for t, b in series[::stride]
                ],
                flush=True,
            )

    print("METRICS", json.dumps(_metrics(spark)), flush=True)
    if not keep:
        shutil.rmtree(RUNG_DIR, ignore_errors=True)


if __name__ == "__main__":
    main()
