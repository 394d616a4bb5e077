"""Deletion-neighborhood fuzzy join (operators/fuzzy.py) vs brute-force
cross join: the O(N·L) vs O(N²) crossover measurement backing the
fuzzy pair join's scale claim (vocab_canonicalize).

Synthetic vocabulary: N distinct pseudo-random 8-hex-char terms
(sha2 of the id — deterministic, uncorrelated with id order), plus a
1% injected single-character-deletion corruption so true pairs exist
at every N.  Both paths compute the IDENTICAL pair set (asserted);
brute force runs only at the small sizes where it terminates.

Usage: python tools/fuzzy_scale.py [sizes_csv]   (default 5000,20000,80000,320000)
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, "/root/repo")

SIZES = (
    [int(x) for x in sys.argv[1].split(",")]
    if len(sys.argv) > 1
    else [5_000, 20_000, 80_000, 320_000]
)
#: brute force is quadratic — cap where it stays minutes-scale
BRUTE_MAX = 20_000


def main() -> None:
    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators import fuzzy as FZ
    from applications_analytics_midas_hbase_metrics_spark.session import get_spark

    spark = get_spark(app_name="fuzzy-scale", cpus=32)

    for n in SIZES:
        base = spark.range(n).select(
            F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 8).alias(
                "term"
            )
        )
        typos = (
            spark.range(0, n, 100)  # 1% of ids
            .select(
                F.substring(
                    F.sha2(F.col("id").cast("string"), 256), 1, 8
                ).alias("t")
            )
            .select(
                F.concat(
                    F.expr("substring(t, 1, 3)"), F.expr("substring(t, 5)")
                ).alias("term")
            )
        )
        vocab = base.unionByName(typos).localCheckpoint(eager=True)
        n_terms = vocab.distinct().count()

        t0 = time.time()
        pairs_nb = FZ.fuzzy_pairs(vocab)
        n_nb = pairs_nb.count()
        t_nb = time.time() - t0

        line = f"N={n_terms}: neighborhood {t_nb:.1f}s pairs={n_nb}"
        if n <= BRUTE_MAX:
            v = vocab.select("term").filter(F.length("term") > 0).distinct()
            t0 = time.time()
            brute = (
                v.alias("l")
                .join(v.alias("r"), F.col("l.term") < F.col("r.term"))
                .filter(F.levenshtein("l.term", "r.term") == 1)
                .select(F.col("l.term").alias("a"), F.col("r.term").alias("b"))
            )
            n_bf = brute.count()
            t_bf = time.time() - t0
            assert n_bf == n_nb, f"pair sets diverge: {n_bf} vs {n_nb}"
            line += f"  |  brute {t_bf:.1f}s pairs={n_bf} (identical)"
        print(line)

    # -----------------------------------------------------------------
    # Hot-short-variant skew: a vocabulary with heavy mass at 3-4 chars
    # over a tiny alphabet makes single deletion variants ("ab", "aab")
    # shared by HUNDREDS of terms — the quadratic-bucket case the
    # positional key refinement exists for.  Both key shapes must
    # enumerate the identical pair set while the (variant, position)
    # join splits each hot bucket into per-position groups.
    # -----------------------------------------------------------------
    print("-- hot-short-variant skew (length-4 base-26, dense) --")
    for n in [50_000, 100_000, 300_000]:
        # dense short vocabulary: N distinct length-4 terms sampled from
        # the 457k-term base-26 space (~10-20% density), so every
        # length-3 deletion variant is shared by ~dozens of terms and
        # the plain-variant buckets join quadratically
        short = spark.range(n).select(
            (F.xxhash64(F.col("id").cast("string")) % 456_976).alias("h")
        ).select(
            F.expr(
                "concat(transform(sequence(0, 3), i ->"
                " substring('abcdefghijklmnopqrstuvwxyz',"
                "           int(abs(h) / power(26, i)) % 26 + 1, 1)))"
            ).alias("cs")
        ).select(F.array_join("cs", "").alias("term"))
        vocab = short.localCheckpoint(eager=True)
        n_terms = vocab.distinct().count()

        t0 = time.time()
        n_plain = FZ.fuzzy_pairs(vocab).count()
        t_plain = time.time() - t0

        t0 = time.time()
        n_pos = FZ.fuzzy_pairs(vocab, position_keys=True).count()
        t_pos = time.time() - t0

        assert n_plain == n_pos, f"positional keys diverge: {n_plain} vs {n_pos}"
        print(
            f"N={n_terms}: plain {t_plain:.1f}s  positional {t_pos:.1f}s"
            f"  pairs={n_plain} (identical)"
        )


if __name__ == "__main__":
    main()
