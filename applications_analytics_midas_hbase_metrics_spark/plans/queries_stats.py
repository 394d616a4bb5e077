"""Statistics queries: count-min heavy hitters and weighted sampling."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .queries import register_extra, t


@register_extra(
    "heavy_hitters_cms",
    # Count-min sketch heavy hitters: the sketch estimate cannot
    # hash-compare across engines, but (a) the top-k truth can — (tok, true_count) comes
    # from the exact distributed aggregate and must hash-match DuckDB's
    # — and (b) the CMS guarantee can: with a FIXED seed the sketch is
    # deterministic, so "true <= est <= true + eps*N" (one-sided
    # overcount, never undercount) and "merged shard sketches give the
    # IDENTICAL estimate" are stable verdicts, not flaky probabilities.
    oracle="""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  tk -> tk != '')) AS tok
        FROM documents
    ),
    c AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_count
          FROM toks GROUP BY 1)
    SELECT tok, true_count, 'ok' AS bound_check, 'ok' AS merge_check
    FROM c ORDER BY true_count DESC, tok LIMIT 20
    """,
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token frequencies: exact truth (distributed count) + a
    count_min_sketch built in ONE pass (JVM aggregate, mergeable
    partials map-side) + an 8-shard sketch build merged driver-side via
    CountMinSketch.mergeInPlace — the partial-aggregate deployment
    pattern: sketch each ingest shard once, answer corpus-wide
    frequency queries by merging sketches, never re-scanning.  The
    driver touches only BOUNDED state (one 20-row truth, 9 sketch
    binaries); estimation per probe token is an O(depth) lookup."""
    from ..operators.dedup import tokens as _tokens

    eps, conf, seed = 1e-3, 0.99, 42
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(_tokens("text")).alias("tok"))
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("true_count"))
    top = exact.orderBy(
        F.col("true_count").desc(), "tok"
    ).limit(20).collect()  # driver-ok: bounded top-k truth
    n_total = toks.count()

    def cms_bytes(df) -> bytes:
        row = df.agg(
            F.count_min_sketch(
                "tok", F.lit(eps), F.lit(conf), F.lit(seed)
            ).alias("sk")
        ).collect()  # driver-ok: ONE sketch binary
        return bytes(row[0].sk)

    jcms = spark._jvm.org.apache.spark.util.sketch.CountMinSketch
    whole = jcms.readFrom(cms_bytes(toks))
    # all 8 shard sketches in ONE grouped aggregation (one scan), then
    # merged driver-side — the shape a sharded ingest actually has
    shard_rows = (
        toks.groupBy(F.pmod(F.xxhash64("tok"), F.lit(8)).alias("s"))
        .agg(
            F.count_min_sketch(
                "tok", F.lit(eps), F.lit(conf), F.lit(seed)
            ).alias("sk")
        )
        .collect()  # driver-ok: 8 sketch binaries
    )
    merged = jcms.readFrom(bytes(shard_rows[0].sk))
    for r in shard_rows[1:]:
        merged.mergeInPlace(jcms.readFrom(bytes(r.sk)))

    bound = eps * n_total
    rows = []
    for r in top:
        est = whole.estimateCount(r.tok)
        mest = merged.estimateCount(r.tok)
        ok = r.true_count <= est <= r.true_count + bound
        rows.append(
            (
                r.tok,
                r.true_count,
                "ok" if ok else f"bad:{est}",
                "ok" if mest == est else f"bad:{mest}!={est}",
            )
        )
    return spark.createDataFrame(
        rows, "tok string, true_count long, bound_check string, merge_check string"
    )


@register_extra(
    "weighted_sample",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, source,
               CAST(len({{toks}}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, source, n_tokens,
               CAST(floor(-ln(((doc_id % 2147483648) * 2971215073
                                % 2147483648 + 1) / 2147483649.0)
                          / greatest(CAST(n_tokens AS DOUBLE), 1.0)
                          * 1000000) AS BIGINT) AS es_key
        FROM d
    ),
    rk AS (
        SELECT *, row_number() OVER (
                   PARTITION BY source
                   ORDER BY es_key * 2147483648 + doc_id) AS r
        FROM keyed
    )
    SELECT doc_id, source, n_tokens, es_key
    FROM rk WHERE r <= 25
    """.replace("{toks}", "list_filter(string_split_regex(lower(text), '\\s+'), tk -> tk != '')"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement, 25 docs per source
    (operators.sampling.weighted_sample_topk): the Efraimidis-Spirakis
    exponential key over the repo's deterministic multiplicative hash,
    weighted by token count — long documents are proportionally likelier
    to be kept, the sampling a token-budgeted mixture actually wants.
    The key is floor-quantized at 1e-6 before ranking (libm ln is not
    bit-identical across engines) and tie-broken by id, so the kept set
    is exactly reproducible; selection runs the two-phase top-k, never
    a whole-stratum sort."""
    from ..operators.dedup import tokens
    from ..operators.sampling import weighted_sample_topk
    from .queries_ext import _spread

    d = _spread(spark, t(spark, sf_dir, "documents")).select(
        "doc_id",
        "source",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    return weighted_sample_topk(
        d, 25, weight_col="n_tokens", strat_col="source", key_col="doc_id"
    ).select("doc_id", "source", "n_tokens", "es_key")
