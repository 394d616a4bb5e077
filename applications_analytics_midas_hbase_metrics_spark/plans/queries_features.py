"""Feature-engineering queries: TF-IDF, BM25, label centroids, L2
norms."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import embeddings as EMB
from ..operators.retrieval import bm25_topk
from ..operators.text import LANG_PROFILES
from .queries import register, register_extra, t
from .queries_ext import _EMB_D, _TOKS, _dot_sql, _spread

_TERMS = LANG_PROFILES["en"]
_TERMS_SQL = ", ".join(repr(w) for w in _TERMS)


@register_extra(
    "tfidf_stopwords",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id AS id, unnest({_TOKS}) AS tok FROM documents
    ),
    counts AS (
        SELECT id, tok, CAST(count(*) AS BIGINT) AS c FROM toks
        WHERE tok IN ({_TERMS_SQL}) GROUP BY 1, 2
    ),
    dfreq AS (SELECT tok, count(*) AS df FROM counts GROUP BY 1),
    dlen AS (SELECT doc_id AS id, len({_TOKS}) AS n_toks FROM documents),
    n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
    SELECT counts.id, counts.tok AS term,
           round((CAST(c AS DOUBLE) / n_toks) * ln(n_docs / CAST(df AS DOUBLE)), 6)
               AS tfidf
    FROM counts JOIN dfreq USING (tok) JOIN dlen ON counts.id = dlen.id, n
    """,
)
def q_tfidf_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, t(spark, sf_dir, "documents"))
    return EMB.tfidf_for_terms(docs, _TERMS)


#: Retrieval batch for the bm25 gate — one Python constant renders both
#: the Spark query frame and the oracle's VALUES list, so the two
#: engines score the identical term sets.  Terms are drawn from the
#: synthetic corpus vocabulary with a spread of document frequencies
#: (common: the/row; mid: stream/batch; rare-ish co-occurrences) so the
#: IDF term actually discriminates.
_BM25_QUERIES: tuple[tuple[int, tuple[str, ...]], ...] = (
    (1, ("fast", "join")),
    (2, ("window", "scan", "merge")),
    (3, ("stream", "batch")),
    (4, ("customer", "filter", "hash")),
    (5, ("slow", "sort", "key")),
)
_BM25_VALUES = ", ".join(
    f"({qid}, '{term}')" for qid, ts in _BM25_QUERIES for term in ts
)
_BM25_K1, _BM25_B, _BM25_K = 1.2, 0.75, 10

#: One oracle serves bm25_topk AND bm25_indexed: the stored-index path
#: must emit the identical ranking, so the differential gate doubles as
#: an identity gate between the two plans.
_BM25_ORACLE = f"""
    WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
    toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    dlen AS (
        SELECT doc_id, CAST(len({_TOKS}) AS DOUBLE) AS dl FROM documents
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               (SELECT avg(dl) FROM dlen) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM toks
        WHERE tok IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2
    ),
    dft AS (SELECT tok, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY 1),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               sum(ln((n_docs - dft + 0.5) / (dft + 0.5) + 1)
                   * (tf * ({_BM25_K1} + 1))
                   / (tf + {_BM25_K1}
                      * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))) AS s
        FROM tf JOIN dft USING (tok) JOIN dlen USING (doc_id)
             JOIN q ON q.term = tf.tok, stats
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, round(s, 6) AS score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(s, 6) DESC, doc_id) AS rnk
        FROM scored
    )
    SELECT query_id, CAST(rnk AS INT) AS rank, doc_id, score
    FROM ranked WHERE rnk <= {_BM25_K}
    """


def _bm25_query_frame(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [(qid, term) for qid, ts in _BM25_QUERIES for term in ts],
        "query_id long, term string",
    )


@register("bm25_topk", oracle=_BM25_ORACLE)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _spread(spark, t(spark, sf_dir, "documents"))
    return bm25_topk(
        docs, _bm25_query_frame(spark), k=_BM25_K, k1=_BM25_K1, b=_BM25_B
    )


@register_extra("bm25_indexed", oracle=_BM25_ORACLE)
def q_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-index BM25 (operators.retrieval.bm25_index_build /
    bm25_topk_indexed): the tokenize + tf aggregation is paid once per
    corpus snapshot into a tok_bucket-partitioned postings table; the
    search scans only the query terms' buckets.  Gated against the SAME
    oracle as bm25_topk, so driver-green here means the stored path is
    ranking-identical to the inline path.  The index is an input
    fixture (pure function of the corpus), built once per interpreter
    like the streaming source copies."""
    import os

    from ..operators.retrieval import bm25_index_build, bm25_topk_indexed
    from .queries import sample_mod, stable_scratch_dir

    # key the stable index on the MIDAS_SAMPLE_MOD scoping too — the
    # corpus t() loads is shaped by it, so a sampled sweep and an
    # unsampled run sharing one interpreter must not reuse each
    # other's postings (the _BPE_MERGE_CACHE lesson)
    tag = f"{sf_dir.strip('/').replace('/', '_')}_m{sample_mod() or 0}"
    idx = os.path.join(stable_scratch_dir(f"bm25_index_{tag}"), "idx")
    if not os.path.exists(os.path.join(idx, "stats", "_SUCCESS")):
        bm25_index_build(
            _spread(spark, t(spark, sf_dir, "documents")), idx, n_buckets=64
        )
    return bm25_topk_indexed(
        spark, idx, _bm25_query_frame(spark),
        k=_BM25_K, k1=_BM25_K1, b=_BM25_B, n_buckets=64,
    )


@register_extra(
    "label_centroid_features",
    oracle=f"""
    WITH vecs AS (SELECT vec_id, label, {_EMB_D} AS v FROM embeddings),
    dims AS (
        SELECT label, u.i AS pos, avg(v[u.i]) AS m
        FROM vecs, (SELECT unnest(range(1, 65)) AS i) u
        GROUP BY 1, 2
    ),
    cents AS (
        SELECT label, list(m ORDER BY pos) AS centroid FROM dims GROUP BY 1
    )
    SELECT v.vec_id AS id, v.label,
           round({_dot_sql('v.v', 'c.centroid')}
                 / (sqrt({_dot_sql('v.v', 'v.v')})
                    * sqrt({_dot_sql('c.centroid', 'c.centroid')})), 6)
               AS cos_to_centroid
    FROM vecs v JOIN cents c ON v.label = c.label
    """,
)
def q_label_centroid_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(spark, t(spark, sf_dir, "embeddings"))
    return EMB.centroid_features(emb)


@register_extra(
    "vector_norms",
    # CTE stages so the norm is computed once per vector — inlining the
    # dot product inside list_transform re-evaluates it per ELEMENT
    # (64x blowup measured as a 239s oracle run)
    oracle=f"""
    WITH v AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings),
    n AS (SELECT vec_id, v, sqrt({_dot_sql('v', 'v')}) AS l2 FROM v),
    w AS (SELECT vec_id, l2,
                 CASE WHEN l2 = 0 THEN v
                      ELSE list_transform(v, x -> x / l2) END AS w
          FROM n)
    SELECT vec_id, round(l2, 6) AS l2_norm,
           round(sqrt({_dot_sql('w', 'w')}), 6) AS normalized_norm
    FROM w
    """,
)
def q_vector_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import _dot

    emb = t(spark, sf_dir, "embeddings")
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    normed = EMB.normalize(F.col("embedding"))
    return emb.select(
        "vec_id",
        F.round(F.sqrt(_dot(vd, vd)), 6).alias("l2_norm"),
        F.round(F.sqrt(_dot(normed, normed)), 6).alias("normalized_norm"),
    )


#: Hybrid retrieval: per-list depth 20, fused to a final 10 with the
#: RRF paper's c=60.  The dense side reuses the reference's Java hash
#: (byte-exact in DuckDB), so the ENTIRE hybrid pipeline — tokenize,
#: BM25, hash-embed, cosine, both rankings, the fusion — is
#: engine-reproducible under one differential hash.
_RRF_DEPTH, _RRF_C = 20, 60


def _java_dim_sql(expr: str) -> str:
    from ..functions.keys import duckdb_java_hash_sql

    return f"CAST((({duckdb_java_hash_sql(expr)}) % 64 + 64) % 64 AS INT)"


_HYBRID_ORACLE = f"""
    WITH q(query_id, term) AS (VALUES {_BM25_VALUES}),
    toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
    dlen AS (
        SELECT doc_id, CAST(len({_TOKS}) AS DOUBLE) AS dl FROM documents
    ),
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               (SELECT avg(dl) FROM dlen) AS avgdl
        FROM documents
    ),
    tf AS (
        SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS tf FROM toks
        WHERE tok IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2
    ),
    dft AS (SELECT tok, CAST(count(*) AS DOUBLE) AS dft FROM tf GROUP BY 1),
    bm AS (
        SELECT q.query_id, tf.doc_id,
               sum(ln((n_docs - dft + 0.5) / (dft + 0.5) + 1)
                   * (tf * ({_BM25_K1} + 1))
                   / (tf + {_BM25_K1}
                      * (1 - {_BM25_B} + {_BM25_B} * dl / avgdl))) AS s
        FROM tf JOIN dft USING (tok) JOIN dlen USING (doc_id)
             JOIN q ON q.term = tf.tok, stats
        GROUP BY 1, 2
    ),
    bmr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(s, 6) DESC, doc_id) AS rnk
        FROM bm
    ),
    dtf AS (
        SELECT doc_id, {_java_dim_sql('tok')} AS dim_idx, count(*) AS c
        FROM toks GROUP BY 1, 2
    ),
    dn AS (SELECT doc_id, sqrt(sum(c * c)) AS nrm FROM dtf GROUP BY 1),
    dv AS (SELECT doc_id, dim_idx, round(c / nrm, 6) AS v
           FROM dtf JOIN dn USING (doc_id)),
    qtf AS (
        SELECT query_id, {_java_dim_sql('lower(term)')} AS dim_idx,
               count(*) AS c
        FROM q GROUP BY 1, 2
    ),
    qn AS (SELECT query_id, sqrt(sum(c * c)) AS nrm FROM qtf GROUP BY 1),
    qv AS (SELECT query_id, dim_idx, round(c / nrm, 6) AS v
           FROM qtf JOIN qn USING (query_id)),
    cs AS (
        SELECT qv.query_id, dv.doc_id, sum(qv.v * dv.v) AS s
        FROM qv JOIN dv USING (dim_idx) GROUP BY 1, 2
    ),
    csr AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(s, 6) DESC, doc_id) AS rnk
        FROM cs
    ),
    u AS (
        SELECT query_id, doc_id, rnk FROM bmr WHERE rnk <= {_RRF_DEPTH}
        UNION ALL
        SELECT query_id, doc_id, rnk FROM csr WHERE rnk <= {_RRF_DEPTH}
    ),
    rrf AS (
        SELECT query_id, doc_id, sum(1.0 / ({_RRF_C} + rnk)) AS s
        FROM u GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id, round(s, 6) AS score,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY round(s, 6) DESC, doc_id) AS rnk
        FROM rrf
    )
    SELECT query_id, CAST(rnk AS INT) AS rank, doc_id, score
    FROM ranked WHERE rnk <= {_BM25_K}
    """


@register_extra("hybrid_rrf_topk", oracle=_HYBRID_ORACLE)
def q_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval (operators.retrieval.rrf_fuse): BM25 top-20 and
    hashed-embedding cosine top-20 per query, reciprocal-rank-fused to
    a final 10 — the standard sparse+dense combiner of a modern
    retrieval stack, here with a model-free dense side (the Java-hash
    embedding) so BOTH legs and the fusion replay byte-exactly in
    DuckDB under one differential hash."""
    from ..operators.retrieval import hashed_cosine_topk, rrf_fuse

    docs = _spread(spark, t(spark, sf_dir, "documents"))
    q = _bm25_query_frame(spark)
    lex = bm25_topk(docs, q, k=_RRF_DEPTH, k1=_BM25_K1, b=_BM25_B)
    den = hashed_cosine_topk(docs, q, k=_RRF_DEPTH)
    return rrf_fuse([lex, den], k=_BM25_K, c=_RRF_C)


@register_extra(
    "retrieval_decontaminate",
    oracle=f"""
    WITH flagged AS (
        SELECT DISTINCT doc_id FROM ({_HYBRID_ORACLE})
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged
    FROM documents d LEFT JOIN flagged f USING (doc_id)
    GROUP BY 1
    """,
)
def q_retrieval_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination-by-retrieval (the recall-first complement of the
    n-gram overlap of operators.text.decontaminate): each eval probe retrieves its hybrid
    top-10 (BM25 + hashed-cosine RRF) and the union of retrieved docs
    is flagged for removal; the gate reports kept/flagged counts per
    source.  Composes the retrieval stack into the curation surface —
    the flag set is the small side (queries x k), so the corpus-side
    cost is one broadcast anti-join after the retrieval legs."""
    from ..operators.retrieval import hashed_cosine_topk, rrf_fuse

    docs = _spread(spark, t(spark, sf_dir, "documents"))
    q = _bm25_query_frame(spark)
    lex = bm25_topk(docs, q, k=_RRF_DEPTH, k1=_BM25_K1, b=_BM25_B)
    den = hashed_cosine_topk(docs, q, k=_RRF_DEPTH)
    flagged = (
        rrf_fuse([lex, den], k=_BM25_K, c=_RRF_C)
        .select("doc_id")
        .distinct()
        .withColumn("_f", F.lit(1))
    )
    return (
        docs.join(F.broadcast(flagged), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.coalesce("_f", F.lit(0))).cast("bigint").alias("n_flagged"),
        )
    )


@register_extra(
    "pmi_collocations",
    oracle=f"""
    WITH d AS (SELECT {_TOKS} AS tks FROM documents),
    pr AS (
        SELECT tks[CAST(i AS INT)] AS a, tks[CAST(i AS INT) + 1] AS b
        FROM (SELECT tks, unnest(range(1, len(tks))) AS i
              FROM d WHERE len(tks) >= 2)
    ),
    pairs AS (SELECT a, b, count(*) AS bc FROM pr GROUP BY 1, 2),
    uni AS (SELECT a, count(*) AS u
            FROM (SELECT unnest(tks) AS a FROM d) GROUP BY 1),
    nt AS (SELECT sum(u) AS n FROM uni),
    mt AS (SELECT sum(bc) AS m FROM pairs),
    sc AS (
        SELECT pairs.a AS term_a, pairs.b AS term_b,
               CAST(pairs.bc AS BIGINT) AS pair_count,
               ln((pairs.bc / mt.m)
                  / ((ua.u / nt.n) * (ub.u / nt.n))) AS raw
        FROM pairs
        JOIN uni ua ON ua.a = pairs.a
        JOIN uni ub ON ub.a = pairs.b
        CROSS JOIN nt CROSS JOIN mt
        WHERE pairs.bc >= 5
    )
    SELECT term_a, term_b, pair_count,
           CAST(floor(raw * 1000000000) AS BIGINT) AS pmi_q,
           round(raw, 6) AS pmi
    FROM sc
    ORDER BY pmi_q DESC, term_a, term_b
    LIMIT 100
    """,
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (operators.text.pmi_collocations): the
    word2phrase-style phrase pass over the corpus — top-100 adjacent
    pairs by pointwise mutual information at min_count=5.  Counts,
    totals, the double arithmetic's parenthesization, the 1e-9 floor
    quantization and the (pmi_q, term_a, term_b) tie-break all replay
    exactly in DuckDB; ln() runs on identical integer-ratio doubles in
    both engines."""
    from ..operators import text as T

    docs = _spread(spark, t(spark, sf_dir, "documents"))
    return T.pmi_collocations(docs, min_count=5, top_k=100)


_TRIGRAM_QUERIES = (
    (0, "table value"),
    (1, "merge batch"),
    (2, "slow filter"),
    (3, "the line sort"),
    (4, "zebra"),
)
_TRIGRAM_Q_SQL = ", ".join(f"({i}, '{s}')" for i, s in _TRIGRAM_QUERIES)


@register_extra(
    "trigram_search",
    oracle=f"""
    SELECT CAST(q.qid AS BIGINT) AS qid, d.doc_id
    FROM documents d
    JOIN (VALUES {_TRIGRAM_Q_SQL}) AS q(qid, s)
      ON contains(lower(d.text), lower(q.s))
    """,
)
def q_trigram_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-trigram substring search
    (operators.retrieval.trigram_substring_search): five literal
    queries (incl. one with zero corpus matches) against the documents
    table.  The oracle is the semantic ground truth — a plain
    case-insensitive `contains` join — so the whole index path
    (posting build, rarest-4 gram selection, intersection count,
    exact verify) is proven to be pure pruning: any candidate-set bug
    that drops or invents a match breaks the hash."""
    from ..operators.retrieval import trigram_substring_search

    docs = _spread(spark, t(spark, sf_dir, "documents"))
    queries = spark.createDataFrame(
        list(_TRIGRAM_QUERIES), "qid bigint, q string"
    )
    return trigram_substring_search(docs, queries, k_grams=4)


@register_extra(
    "trigram_indexed",
    oracle=f"""
    SELECT CAST(q.qid AS BIGINT) AS qid, d.doc_id
    FROM documents d
    JOIN (VALUES {_TRIGRAM_Q_SQL}) AS q(qid, s)
      ON contains(lower(d.text), lower(q.s))
    """,
)
def q_trigram_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stored-index substring search
    (operators.retrieval.trigram_index_build / trigram_search_indexed):
    the posting explode + df aggregation is paid once per corpus
    snapshot into a g_bucket-partitioned postings table; the search
    lists only the selected rarest grams' buckets.  Gated against the
    SAME contains-truth oracle as trigram_search, so green here means
    the stored path is result-identical to the inline path AND to the
    semantic ground truth."""
    import os

    from ..operators.retrieval import trigram_index_build, trigram_search_indexed
    from .queries import sample_mod, stable_scratch_dir

    tag = f"{sf_dir.strip('/').replace('/', '_')}_m{sample_mod() or 0}"
    idx = os.path.join(stable_scratch_dir(f"trigram_index_{tag}"), "idx")
    if not os.path.exists(os.path.join(idx, "gram_df", "_SUCCESS")):
        trigram_index_build(
            _spread(spark, t(spark, sf_dir, "documents")), idx, n_buckets=64
        )
    docs = _spread(spark, t(spark, sf_dir, "documents"))
    queries = spark.createDataFrame(
        list(_TRIGRAM_QUERIES), "qid bigint, q string"
    )
    return trigram_search_indexed(spark, idx, queries, docs, k_grams=4)


def _pca_oracle(iters: int = 3, d: int = 64, r: int = 6) -> str:
    """Unrolled power-iteration CTE chain — the SQL replay of exactly
    ``iters`` quantized matvec rounds (the pagerank/kmeans_fixed
    oracle pattern applied to X'X)."""
    import math

    v0 = round(1.0 / math.sqrt(d), r)
    sq = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(wl, y -> y * y)), (acc, x) -> acc + x)"
    )
    parts = [
        f"x AS (SELECT vec_id, {_EMB_D} AS v FROM embeddings)",
        f"v0 AS (SELECT list_transform(range(1, {d + 1}),"
        f" i -> CAST({v0} AS DOUBLE)) AS v)",
    ]
    prev = "v0"
    for k in range(1, iters + 1):
        parts += [
            f"s{k} AS (SELECT x.vec_id, {_dot_sql('x.v', f'{prev}.v')} AS s"
            f" FROM x, {prev})",
            f"w{k} AS (SELECT u.i AS pos, sum(x.v[u.i] * s{k}.s) AS w"
            f" FROM x JOIN s{k} USING (vec_id),"
            f" (SELECT unnest(range(1, {d + 1})) AS i) u GROUP BY 1)",
            f"l{k} AS (SELECT list(w ORDER BY pos) AS wl FROM w{k})",
            f"v{k} AS (SELECT list_transform(wl,"
            f" y -> round(y / sqrt({sq}), {r})) AS v FROM l{k})",
        ]
        prev = f"v{k}"
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT CAST(u.i - 1 AS BIGINT) AS pos, v[u.i] AS loading"
        f" FROM {prev}, (SELECT unnest(range(1, {d + 1})) AS i) u"
    )


@register(
    "pca_top_direction", oracle=_pca_oracle())
def q_pca_top_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three quantized power-iteration rounds on X'X over the
    embeddings table (operators.clustering.pca_power_top) — the
    dominant-direction primitive behind All-but-the-Top embedding
    postprocessing.  Every round's dot products are strict left folds
    on quantized iterates, so the oracle's unrolled CTE chain replays
    each intermediate vector under the differential hash exactly —
    convergence on the near-isotropic fixture (spectral gap 1.008) is
    deliberately NOT the claim; the recurrence is (pytest drives it to
    cos >= 0.999 on a gapped matrix)."""
    from ..operators.clustering import pca_power_top

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    return pca_power_top(emb, iters=3, d=64)


@register_extra(
    "abtt_corrected",
    oracle=f"""
    WITH pca AS ({_pca_oracle()}),
    vl AS (SELECT list(loading ORDER BY pos) AS v FROM pca),
    sc AS (
        SELECT x.vec_id, x.v AS xv, vl.v AS dv,
               {_dot_sql('x.v', 'vl.v')} AS s
        FROM (SELECT vec_id, {_EMB_D} AS v FROM embeddings) x, vl
    )
    SELECT vec_id AS id, round(s, 6) AS component,
           list_transform(range(1, 65),
               i -> round(xv[i] - s * dv[i], 6)) AS corrected
    FROM sc
    """,
)
def q_abtt_corrected(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-but-the-Top correction composed on the PCA gate
    (operators.clustering.abtt_remove_top): the dominant direction
    from pca_power_top is projected out of every embedding.  The
    oracle chains the unrolled power-iteration CTE with the per-row
    projection, so direction, scalar component and every corrected
    coordinate are all under one differential hash."""
    from ..operators.clustering import abtt_remove_top, pca_power_top

    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    v = pca_power_top(emb, iters=3, d=64)
    return abtt_remove_top(emb, v)
