"""Scaling evidence: time the heavy curation operators on 1x/4x/16x
replicas of the documents corpus and report the growth curve.

The fixture tables cap at sf0.1 (5k docs), which hides how the
operators grow.  This harness replicates documents with id offsets
(each replica keeps the corpus's self-similarity structure, so LSH
candidate load grows realistically, not just row count) and times:

  * exact dedup        — expected ~linear (hash + groupBy)
  * minhash LSH pairs  — expected ~linear in docs until the pair count
                         itself grows superlinearly (it does here:
                         every replica pairs with every other replica,
                         so 16x docs -> ~256x true pairs; the per-PAIR
                         cost staying flat is the scaling claim)
  * connected components over those pairs — ~linear in edges

Usage: python tools/scalecheck.py [max_factor]   (default 16)
Prints one JSON line per (factor, op) to stdout; human table to stderr.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    max_factor = int(sys.argv[1]) if len(sys.argv) > 1 else 16

    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators import dedup as D
    from applications_analytics_midas_hbase_metrics_spark.operators import graph as G
    from applications_analytics_midas_hbase_metrics_spark.operators import pinning
    from applications_analytics_midas_hbase_metrics_spark.session import get_spark

    spark = get_spark(app_name="midas-scalecheck", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    docs.count()  # warm footers

    factor = 1
    while factor <= max_factor:
        corpus = docs
        for i in range(1, factor):
            corpus = corpus.union(
                docs.select((F.col("doc_id") + 1_000_000 * i).alias("doc_id"), "text")
            )
        corpus = corpus.repartition(spark.sparkContext.defaultParallelism)
        n_docs = corpus.count()

        t0 = time.monotonic()
        n_exact = D.exact_duplicates(corpus).count()
        t_exact = time.monotonic() - t0

        t0 = time.monotonic()
        pairs = D.minhash_near_duplicates(
            corpus, num_hashes=64, threshold=0.5, materialize=True
        )
        n_pairs = pairs.count()
        t_pairs = time.monotonic() - t0

        t0 = time.monotonic()
        n_nodes = G.connected_components(pairs).count()
        t_cc = time.monotonic() - t0
        pinning.release_all()

        for op, dt, n_out in (
            ("exact_dedup", t_exact, n_exact),
            ("minhash_pairs", t_pairs, n_pairs),
            ("connected_components", t_cc, n_nodes),
        ):
            print(json.dumps({
                "factor": factor, "n_docs": n_docs, "op": op,
                "sec": round(dt, 2), "n_out": n_out,
            }))
        print(
            f"# {factor:>2}x  docs={n_docs:>7}  exact={t_exact:6.2f}s "
            f"pairs={t_pairs:6.2f}s ({n_pairs} pairs)  cc={t_cc:6.2f}s",
            file=sys.stderr,
        )
        factor *= 4


if __name__ == "__main__":
    main()
