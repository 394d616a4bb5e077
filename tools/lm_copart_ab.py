"""A/B the ngram_lm_score gram co-partition (round 16, VERDICT #5) in
the regime it targets: the bigram table too big to broadcast, so the
score join runs SMJ and the `big` aggregate + join probe each
re-shuffle docpairs by gram keys.

The bench SFs cannot show this — at sf0.1 `big` is ~1 MB and AQE
broadcasts both model joins (plans/r16/perplexity_buckets_before.txt),
which is why the co-partition trigger is the SMALL_FRAME_BYTES plan
estimate and never fires below the rung.  Here the broadcast regime is
disabled explicitly (both static and adaptive thresholds -1), exactly
what a 100 TB corpus's bigram table does naturally, and the corpus is
the sf0.1 documents replicated ``factor`` times with id offsets.

Usage: python tools/lm_copart_ab.py [factor] [repeats]
Prints per-variant walls and the executed-plan Exchange count.
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

SF_DIR = "/root/testdata/sf0.1"
FACTOR = int(sys.argv[1]) if len(sys.argv) > 1 else 16
REPEATS = int(sys.argv[2]) if len(sys.argv) > 2 else 3


def main() -> None:
    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators import text as T
    from applications_analytics_midas_hbase_metrics_spark.session import get_spark
    spark = get_spark(app_name="lm_copart_ab", cpus="32")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    n = base.groupBy().agg(F.max("doc_id")).first()[0] + 1
    corpus = (
        base.crossJoin(spark.range(FACTOR).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") + F.col("rep") * n).alias("doc_id"), "text"
        )
        .repartition(32)
        .localCheckpoint(eager=True)  # corpus build excluded from timing
    )
    print(f"# corpus: {corpus.count()} docs (factor {FACTOR})", flush=True)

    from applications_analytics_midas_hbase_metrics_spark.operators import pinning

    for variant in (False, True):
        walls = []
        for i in range(REPEATS):
            pinning.release_all()  # each run rebuilds its own pins
            spark.sparkContext.setJobDescription(
                f"lm_score copartition={variant} run{i}"
            )
            t0 = time.monotonic()
            out = T.ngram_lm_score(corpus, copartition=variant)
            out.write.format("noop").mode("overwrite").save()
            walls.append(round(time.monotonic() - t0, 2))
            if i == 0:
                plan = out._jdf.queryExecution().executedPlan().toString()
                n_ex = plan.count("Exchange")
                n_smj = plan.count("SortMergeJoin")
                print(
                    f"# copartition={variant}: final-plan Exchange={n_ex} "
                    f"SortMergeJoin={n_smj}",
                    flush=True,
                )
        print(
            f"copartition={variant}: min={min(walls)} walls={walls}",
            flush=True,
        )


if __name__ == "__main__":
    main()
