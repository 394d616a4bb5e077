"""BM25 lexical retrieval: inverted-index scoring + two-phase top-k.

The reference engine (reference Utils.scala — no retrieval surface)
stops at scans/joins/aggregations; this module is part of the
training-data-pipeline extension surface: lexical top-k retrieval is
the standard recall path for decontamination-by-retrieval, targeted
quality probes, and seed-set expansion over a 100 TB corpus.

Scale shape (the whole point of BM25 on Spark):

- The posting list is never materialized for the full vocabulary.  The
  query term set is broadcast and the semi-filter runs BEFORE the
  (doc, term) aggregation, so the only rows that ever shuffle are
  postings of queried terms — for a q-term query load that is
  O(q x df) rows out of O(total tokens).
- Corpus statistics (N, avgdl) reduce to one scalar row, joined back
  by broadcast; document length joins on doc_id AFTER the tf
  aggregation, so the big side of that join is already term-filtered.
- Per-query ranking reuses the two-phase TakeOrderedAndProject shape
  of :func:`..operators.similarity._topk_per_query` — no task ever
  sees a query's full score set, so a query matching half the corpus
  cannot funnel through one reducer.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import pinning
from .dedup import tokens
from .similarity import _topk_per_query

__all__ = [
    "bm25_scores",
    "bm25_topk",
    "bm25_index_build",
    "bm25_topk_indexed",
    "hashed_cosine_topk",
    "rrf_fuse",
    "recover_index_store",
]

#: Marker file written into a finished index build BEFORE the swap —
#: its presence inside ``.build_tmp`` proves every table of the
#: generation is fully materialized (roll FORWARD on recovery).
_INDEX_COMMITTED = "_INDEX_COMMITTED"


def _atomic_index_swap(index_dir: str, write_tables) -> None:
    """Publish a MULTI-table index generation atomically (round-12
    store audit): ``write_tables(tmp_dir)`` materializes every table
    under ``index_dir + '.build_tmp'``, then the whole generation swaps
    in with the repo's two-rename protocol.  Without this, the builders
    overwrote postings/dft/stats with three separate non-atomic writes
    — a rebuild crashing between them left a MIXED-generation index
    (new postings scored against the previous corpus' dft/stats) that
    returns silently wrong rankings; per-table recovery cannot help
    because every table is individually healthy.  Generation
    consistency must be whole-index, hence directory-level swap +
    commit marker; heal a crashed swap with
    :func:`recover_index_store`."""
    import shutil

    tmp = index_dir + ".build_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    write_tables(tmp)
    with open(os.path.join(tmp, _INDEX_COMMITTED), "w") as fh:
        fh.write("")
    old = index_dir + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.exists(index_dir):
        os.rename(index_dir, old)
    os.rename(tmp, index_dir)
    shutil.rmtree(old, ignore_errors=True)


def recover_index_store(index_dir: str) -> dict:
    """Heal a stored retrieval index (BM25 / trigram) after a crash
    anywhere in :func:`_atomic_index_swap`'s window.  Idempotent; call
    before searching an index whose last (re)build may have died.

    States: index present → clear residue; index absent with a
    COMMITTED tmp → roll forward (the new generation is complete);
    index absent with ``.old`` → restore the previous generation
    (the rebuild is simply not applied); uncommitted tmp alone →
    discard (tables may be torn mid-write)."""
    import shutil

    tmp, old = index_dir + ".build_tmp", index_dir + ".old"
    committed = os.path.exists(os.path.join(tmp, _INDEX_COMMITTED))
    if os.path.exists(index_dir):
        act = "ok"
        if os.path.exists(old) or os.path.exists(tmp):
            shutil.rmtree(old, ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
            act = "residue_cleared"
    elif committed:
        os.rename(tmp, index_dir)
        shutil.rmtree(old, ignore_errors=True)
        act = "promoted_tmp"
    elif os.path.exists(old):
        os.rename(old, index_dir)
        shutil.rmtree(tmp, ignore_errors=True)
        act = "restored_previous"
    elif os.path.exists(tmp):
        shutil.rmtree(tmp)
        act = "incomplete_build_discarded"
    else:
        act = "missing"
    return {"index": act}


def _refuse_headless_index(index_dir: str) -> None:
    """Searching a store whose directory vanished mid-swap would fail
    confusingly (or, worse, a caller might rebuild an EMPTY index on
    top of the recoverable previous generation) — refuse with the
    recovery pointer instead, mirroring the shingle store's
    headless-append refusal."""
    if not os.path.exists(index_dir) and (
        os.path.exists(index_dir + ".old")
        or os.path.exists(index_dir + ".build_tmp")
    ):
        raise RuntimeError(
            f"index store {index_dir!r} crashed mid-(re)build (swap"
            " residue present, index absent) — run recover_index_store"
            " before searching or rebuilding"
        )


def _postings(docs: DataFrame, doc_id: str, text: str) -> DataFrame:
    """(doc_id, tok) one row per token OCCURRENCE, plus doc length."""
    return docs.select(
        F.col(doc_id).cast("bigint").alias("doc_id"),
        tokens(text).alias("_toks"),
    ).select(
        "doc_id",
        F.size("_toks").cast("double").alias("dl"),
        F.explode("_toks").alias("tok"),
    )


def _norm_queries(queries: DataFrame) -> DataFrame:
    return queries.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.lower(F.col("term")).alias("term"),
    )


def _score_from_tables(
    tf: DataFrame, dft: DataFrame, stats: DataFrame, q: DataFrame,
    k1: float, b: float,
) -> DataFrame:
    """The scoring tail shared by the inline and stored-index paths:
    (doc_id, tok, tf, dl) x (tok, dft) x 1-row stats x (query_id, term)
    -> (query_id, doc_id, score).  Everything but ``tf`` rides
    broadcast; ``tf`` must already be restricted to queried terms."""
    idf = F.log(
        (F.col("n_docs") - F.col("dft") + F.lit(0.5))
        / (F.col("dft") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("avgdl"))
    )
    part = (
        tf.join(F.broadcast(dft), "tok")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "tok", (idf * tf_norm).alias("part"))
    )
    return (
        part.join(F.broadcast(q), part["tok"] == q["term"])
        .groupBy("query_id", "doc_id")
        .agg(F.sum("part").alias("score"))
    )


def bm25_scores(
    docs: DataFrame,
    queries: DataFrame,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    doc_id: str = "doc_id",
    text: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Per-(query, doc) BM25 score for every doc matching >= 1 term.

    ``queries`` is (query_id, term), small by construction (a retrieval
    batch), broadcast twice: once as the distinct-term filter on the
    posting stream, once to fan per-term partials out to the queries
    that contain the term.  IDF uses the standard Robertson/Sparck
    Jones smoothed form ``ln((N - df + 0.5) / (df + 0.5) + 1)`` —
    non-negative for every df, so stop-term postings can only dilute,
    never flip, a ranking.

    Returns (query_id, doc_id, score) with score unrounded; callers
    that compare across engines round at the edge
    (:func:`bm25_topk`)."""
    q = _norm_queries(queries)
    terms = q.select("term").distinct()

    post = _postings(docs, doc_id, text)
    # Semi-filter before the tf aggregation: only queried-term postings
    # ever reach a shuffle.
    hits = post.join(F.broadcast(terms), post["tok"] == terms["term"]).drop(
        "term"
    )
    tf = hits.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.first("dl").alias("dl"),
    )
    # tf feeds TWO consumers (the dft derivation below and the score
    # join in _score_from_tables); without a pin the whole corpus
    # scan → tokenize → explode → semi-filter → aggregate subtree
    # executes once per consumer — the sf0.1 plan showed the parquet
    # scan + explode duplicated, and at crawl scale that is a second
    # full pass over the corpus text.  tf is post-reduction (one row
    # per matching (doc, queried term) — O(q × df), nowhere near
    # corpus-sized), so an eager pin is the guide-§2.4 move: share
    # one materialization.  materialize=False keeps the lazy twin for
    # plan inspection, same convention as ngram_lm_score.
    tf = pinning.pin(tf, "bm25_term_freqs", eager=materialize)
    # One row per (doc, tok) after the agg => count(*) IS the document
    # frequency.  Correct ONLY because tf is term-filtered upstream of
    # nothing that drops docs — each matching (doc, tok) survives.
    dft = tf.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("dft"))

    # Corpus scalars: N over ALL docs (not just matching ones) and the
    # corpus-wide mean token length — one-row aggregate, broadcast back.
    stats = docs.select(
        F.size(tokens(text)).cast("double").alias("dl"),
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    return _score_from_tables(tf, dft, stats, q, k1, b)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    doc_id: str = "doc_id",
    text: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Top-k docs per query by BM25, rank total-ordered by
    (round(score, 6) DESC, doc_id) so the output is engine-comparable:
    ranking on the ROUNDED score means a sub-1e-6 summation-order
    difference between engines cannot flip two near-tied docs.

    Two-phase ranking via similarity._topk_per_query (partition-local
    top-k, then global top-k over <= k x n_partitions rows per
    query)."""
    scored = bm25_scores(
        docs, queries, k1=k1, b=b, doc_id=doc_id, text=text,
        materialize=materialize,
    )
    return _rank_topk(scored, k)


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, doc_id, score) -> ranked top-k via the two-phase
    similarity._topk_per_query shape, ranking on the ROUNDED score."""
    renamed = scored.select(
        "query_id",
        F.col("doc_id").alias("corpus_id"),
        F.round("score", 6).alias("cos"),
    )
    out = _topk_per_query(renamed, k)
    return out.select(
        "query_id",
        F.col("rank"),
        F.col("corpus_id").alias("doc_id"),
        F.col("cos").alias("score"),
    )


def bm25_index_build(
    docs: DataFrame,
    index_dir: str,
    *,
    n_buckets: int = 64,
    doc_id: str = "doc_id",
    text: str = "text",
) -> None:
    """Materialize the BM25 index: ``postings/`` (doc_id, tok, tf, dl)
    hash-partitioned into ``n_buckets`` term buckets, ``dft/`` the full
    per-term document frequencies, ``stats/`` the one-row corpus
    scalars.

    This is the production shape the inline query's plan audit calls
    out: the tokenize + tf aggregation is paid ONCE per corpus
    snapshot; a query batch then reads only its terms' partitions
    (:func:`bm25_topk_indexed` prunes on tok_bucket) — the same
    partition-pruning move as the stored IVF-PQ index's list_id
    layout.  Bucketing by xxhash64(tok) instead of partitioning by raw
    tok bounds the directory fanout at n_buckets regardless of
    vocabulary size (a 100 TB corpus has billions of distinct tokens;
    one directory per token is a filesystem DoS — and a hot term still
    shares its bucket file with ~|V|/n_buckets others, so bucket
    SIZES stay near-uniform even under a Zipfian vocabulary)."""
    post = _postings(docs, doc_id, text)
    tf = post.groupBy("doc_id", "tok").agg(
        F.count(F.lit(1)).cast("double").alias("tf"),
        F.first("dl").alias("dl"),
    )
    # dft over the FULL vocabulary here (no query filter exists yet);
    # derived from tf, so one row per (doc, tok) — count(*) == df
    dft = tf.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("dft")
    )
    _refuse_headless_index(index_dir)

    def _write(tmp: str) -> None:
        tf.withColumn(
            "tok_bucket", F.pmod(F.xxhash64("tok"), F.lit(n_buckets))
        ).write.mode("overwrite").partitionBy("tok_bucket").parquet(
            os.path.join(tmp, "postings")
        )
        dft.write.mode("overwrite").parquet(os.path.join(tmp, "dft"))
        docs.select(F.size(tokens(text)).cast("double").alias("dl")).agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("dl").alias("avgdl"),
        ).write.mode("overwrite").parquet(os.path.join(tmp, "stats"))

    # the three tables are ONE generation: publish atomically (a crash
    # between per-table overwrites of a live index left new postings
    # scored against old dft/stats — silently wrong rankings)
    _atomic_index_swap(index_dir, _write)
    docs.sparkSession.catalog.refreshByPath(index_dir)


def bm25_topk_indexed(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    *,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int = 64,
) -> DataFrame:
    """Search a stored BM25 index: identical output contract to
    :func:`bm25_topk` (identity-gated in plans/queries_features.py).

    The postings scan is restricted TWICE: statically to the query
    terms' hash buckets (partition pruning — the scan lists only
    len(buckets) of n_buckets directories) and then exactly to the
    terms via the broadcast semi-join inside the bucket files.  The
    bucket set is computed with one bounded jobless-scale collect over
    the query terms (|terms| rows)."""
    _refuse_headless_index(index_dir)
    q = _norm_queries(queries)
    terms = q.select("term").distinct()
    buckets = [
        r.bkt
        for r in terms.select(
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).alias("bkt")
        )
        .distinct()
        .collect()  # driver-ok: <= |query terms| rows, bounds the scan
    ]
    post = spark.read.parquet(os.path.join(index_dir, "postings")).filter(
        F.col("tok_bucket").isin(buckets)
    )
    tf = post.join(F.broadcast(terms), post["tok"] == terms["term"]).select(
        "doc_id", "tok", "tf", "dl"
    )
    # the stored dft spans the FULL vocabulary — semi-filter to the
    # query terms BEFORE it reaches _score_from_tables' broadcast (a
    # 100 TB corpus has billions of distinct terms; broadcasting the
    # whole table would be the classic stored-index foot-gun)
    dft = spark.read.parquet(os.path.join(index_dir, "dft")).join(
        F.broadcast(terms),
        F.col("tok") == F.col("term"),
        "left_semi",
    )
    stats = spark.read.parquet(os.path.join(index_dir, "stats"))
    return _rank_topk(_score_from_tables(tf, dft, stats, q, k1, b), k)


def hashed_cosine_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    dim: int = 64,
    doc_id: str = "doc_id",
    text: str = "text",
) -> DataFrame:
    """Dense-side retrieval over model-free hashed embeddings
    (embeddings.hashed_embedding): each query's term multiset is
    embedded as a pseudo-document (order-invariant — the embedding is
    a per-bucket count), and cosine reduces to a sparse dot product:
    join the tiny broadcast query vectors to the corpus long-form
    vectors ON dim_idx and sum value products per (query, doc).  Both
    sides are L2-normalized upstream, so no per-pair norm work.

    Same output contract as :func:`bm25_topk`."""
    from .embeddings import hashed_embedding

    dvec = hashed_embedding(docs, dim, text_col=text, id_col=doc_id)
    qdocs = _norm_queries(queries).groupBy("query_id").agg(
        F.concat_ws(" ", F.collect_list("term")).alias("text")
    )
    qvec = hashed_embedding(qdocs, dim, id_col="query_id").select(
        F.col("id").alias("query_id"),
        F.col("dim_idx"),
        F.col("value").alias("qv"),
    )
    scored = (
        dvec.join(F.broadcast(qvec), "dim_idx")
        .groupBy("query_id", F.col("id").alias("doc_id"))
        .agg(F.sum(F.col("value") * F.col("qv")).alias("score"))
    )
    return _rank_topk(scored, k)


def rrf_fuse(
    rankings: list[DataFrame], k: int = 10, c: int = 60
) -> DataFrame:
    """Reciprocal-rank fusion of ranked lists (query_id, doc_id, rank):
    score(q, d) = sum over lists of 1 / (c + rank) — the standard
    hybrid-retrieval combiner (c=60 from the original RRF paper); a
    doc missing from a list simply contributes nothing.  Pure
    aggregation over the (small) per-query top-k lists, so fusion cost
    is O(queries x k x lists) regardless of corpus size."""
    from functools import reduce

    u = reduce(
        DataFrame.unionByName,
        [r.select("query_id", "doc_id", "rank") for r in rankings],
    )
    scored = u.groupBy("query_id", "doc_id").agg(
        F.sum(F.lit(1.0) / (F.lit(c) + F.col("rank"))).alias("score")
    )
    return _rank_topk(scored, k)


def _char_trigrams(col: str) -> Column:
    """Distinct character 3-grams of an (already-normalized) string
    column, by NAME (the sliding substring needs the column twice
    inside one SQL lambda) — one JVM HOF projection, no explode here
    so callers pick the row shape."""
    # sequence(1, 0) is DESCENDING in Spark ([1, 0]), so strings shorter
    # than 3 chars would otherwise emit bogus 1-2-char "grams" (and empty
    # strings an empty gram) that persist into stored postings/gram_df;
    # the length filter guarantees every emitted gram is exactly 3 chars.
    return F.array_distinct(
        F.filter(
            F.expr(
                f"transform(sequence(1, greatest(char_length({col}) - 2, 0)),"
                f" i -> substring({col}, i, 3))"
            ),
            lambda g: F.length(g) == 3,
        )
    )


def trigram_substring_search(
    docs: DataFrame,
    queries: DataFrame,
    k_grams: int = 4,
    doc_id: str = "doc_id",
    text: str = "text",
    qid: str = "qid",
    q: str = "q",
    gram_key: str = "text",
) -> DataFrame:
    """Substring search over an inverted character-trigram index: which
    documents CONTAIN each query string (case-insensitive) — the
    LIKE-'%q%' accelerator.  A full-corpus `contains` scan reads every
    byte per query; the index touches only the posting lists of each
    query's ``k_grams`` RAREST trigrams, intersects them (a document
    must hold ALL selected grams to be a candidate), and verifies the
    survivors with one exact `contains` — so the selection strategy is
    pure pruning and can never change the result set.

    Rarest-first selection is the load-bearing scale choice: a hot
    trigram ("the" in English) has a posting list proportional to the
    corpus; the rarest grams bound candidate fanout by the SMALLEST
    lists.  A query gram absent from the whole corpus (df 0) ranks
    rarest, intersects to an empty candidate set and correctly returns
    no matches without scanning anything.

    Scale shape: postings build is one projection + explode + distinct
    per doc (gram-keyed aggregate for df); candidate counting is a
    gram-keyed join + (query, doc) count-match aggregate; the query
    frame and its selected grams ride broadcast; verify joins only the
    candidate ids back to the text.  Queries shorter than 3 characters
    cannot produce a trigram and fail LOUDLY (assert_true) rather than
    silently matching nothing.

    ``gram_key`` selects the posting/join key: ``"text"`` (default) —
    the gram string itself, DuckDB-replayable; ``"xxhash64"`` — the
    8-byte gram hash, the production fixed-width join-key swap.  The
    result set is IDENTICAL either way (pinned in tests): gram
    selection is pure pruning and the exact `contains` verify runs on
    the survivors, so even a hash collision can only admit a candidate
    the verify then rejects — exactness never rests on the hash.

    Returns (qid, doc_id)."""
    d = _norm_docs_text(docs, doc_id, text)
    qn = _norm_substring_queries(queries, qid, q)
    gk = _gram_key_fn(gram_key)
    dg = d.select(
        "doc_id", F.explode(_char_trigrams("t")).alias("_gs")
    ).select("doc_id", gk(F.col("_gs")).alias("g"))
    df_g = dg.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    sel, n_sel = _select_rarest_grams(qn, df_g, k_grams, gram_key=gram_key)
    return _intersect_and_verify(dg, sel, n_sel, d, qn)


def _gram_key_fn(gram_key: str):
    """Identity for ``"text"``, 64-bit hash for ``"xxhash64"``."""
    if gram_key not in ("text", "xxhash64"):
        raise ValueError(
            f"gram_key must be 'text' or 'xxhash64', got {gram_key!r}"
        )
    if gram_key == "text":
        return lambda c: c
    return F.xxhash64


def _norm_docs_text(docs: DataFrame, doc_id: str, text: str) -> DataFrame:
    return docs.select(
        F.col(doc_id).cast("bigint").alias("doc_id"),
        F.lower(F.col(text)).alias("t"),
    )


def _norm_substring_queries(queries: DataFrame, qid: str, q: str) -> DataFrame:
    # the guard rides INSIDE the q projection (assert_true returns NULL
    # on success, so the `when` passes the string through) — a separate
    # guard column would be pruned unevaluated by Catalyst
    return queries.select(
        F.col(qid).cast("bigint").alias("qid"),
        F.when(
            F.assert_true(
                F.length(F.col(q)) >= 3,
                F.concat(
                    F.lit("trigram query shorter than 3 chars: "), F.col(q)
                ),
            ).isNull(),
            F.lower(F.col(q)),
        ).alias("q"),
    )


def _select_rarest_grams(
    qn: DataFrame, df_g: DataFrame, k_grams: int, gram_key: str = "text"
):
    """(qid, g) of each query's ``k_grams`` rarest trigrams (df asc,
    gram tiebreak; corpus-absent grams are df 0 = rarest), plus the
    per-query selected count for the intersection's count-match.
    With ``gram_key="xxhash64"`` the tiebreak orders on the hash —
    a DIFFERENT (equally valid) pruning selection, which cannot change
    the verified result set."""
    from pyspark.sql import Window

    gk = _gram_key_fn(gram_key)
    qg = qn.select(
        "qid", F.explode(_char_trigrams("q")).alias("_gs")
    ).select("qid", gk(F.col("_gs")).alias("g"))
    w = Window.partitionBy("qid").orderBy(
        F.coalesce("df", F.lit(0)).asc(), F.col("g")
    )
    sel = (
        qg.join(df_g, "g", "left")
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k_grams)
        .select("qid", "g")
    )
    n_sel = sel.groupBy("qid").agg(F.count(F.lit(1)).alias("n_sel"))
    return sel, n_sel


def _intersect_and_verify(
    dg: DataFrame,
    sel: DataFrame,
    n_sel: DataFrame,
    d: DataFrame,
    qn: DataFrame,
) -> DataFrame:
    """Candidates = docs holding ALL selected grams (count-match over
    the gram-keyed posting join); exact `contains` verify on the
    survivors only."""
    # DISTINCT grams per (query, doc) before the count-match: postings
    # are distinct per doc by construction, but a streamed index that
    # replayed a batch re-appends rows — counting distinct grams keeps
    # the intersection exact under at-least-once appends (>= would
    # admit them too; distinct-count keeps the invariant n_hit <= n_sel)
    cand = (
        dg.join(F.broadcast(sel), "g")
        .select("qid", "doc_id", "g")
        .distinct()
        .groupBy("qid", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .join(F.broadcast(n_sel), "qid")
        .filter(F.col("n_hit") == F.col("n_sel"))
        .select("qid", "doc_id")
    )
    return (
        cand.join(d, "doc_id")
        .join(F.broadcast(qn), "qid")
        .filter(F.instr("t", F.col("q")) > 0)
        .select("qid", "doc_id")
    )


def trigram_index_build(
    docs: DataFrame,
    index_dir: str,
    *,
    n_buckets: int = 64,
    doc_id: str = "doc_id",
    text: str = "text",
    gram_key: str = "text",
) -> None:
    """Materialize the substring-search index: ``postings/`` (doc_id,
    g) hash-partitioned into ``n_buckets`` gram buckets plus
    ``gram_df/`` the per-gram document frequencies — the stored-artifact
    shape of :func:`trigram_substring_search`, built once per corpus
    snapshot exactly like the BM25 index (bm25_index_build): bucketing
    by xxhash64(g) bounds directory fanout at n_buckets regardless of
    how many distinct trigrams the corpus holds, and a recurring query
    batch then reads ONLY its selected grams' partitions.

    ``gram_key="xxhash64"`` stores 8-byte gram hashes instead of the
    gram strings (fixed-width postings + join keys — the production
    swap; exactness is unaffected because the search's contains-verify
    never rests on the hash).  The search MUST be called with the same
    ``gram_key`` the index was built with — the two key spaces do not
    intersect."""
    d = _norm_docs_text(docs, doc_id, text)
    gk = _gram_key_fn(gram_key)
    dg = d.select(
        "doc_id", F.explode(_char_trigrams("t")).alias("_gs")
    ).select("doc_id", gk(F.col("_gs")).alias("g"))
    _refuse_headless_index(index_dir)

    def _write(tmp: str) -> None:
        dg.withColumn(
            "g_bucket", F.pmod(F.xxhash64("g"), F.lit(n_buckets))
        ).write.mode("overwrite").partitionBy("g_bucket").parquet(
            os.path.join(tmp, "postings")
        )
        dg.groupBy("g").agg(F.count(F.lit(1)).alias("df")).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "gram_df"))

    # both tables are ONE generation — same atomicity argument as
    # bm25_index_build (new postings + old gram_df mis-ranks the
    # rarest-gram pruning)
    _atomic_index_swap(index_dir, _write)
    docs.sparkSession.catalog.refreshByPath(index_dir)


def trigram_search_indexed(
    spark,
    index_dir: str,
    queries: DataFrame,
    docs: DataFrame,
    k_grams: int = 4,
    *,
    n_buckets: int = 64,
    doc_id: str = "doc_id",
    text: str = "text",
    qid: str = "qid",
    q: str = "q",
    gram_key: str = "text",
) -> DataFrame:
    """Search a stored trigram index: identical output contract to
    :func:`trigram_substring_search` (identity-gated in
    plans/queries_features.py).  ``gram_key`` must match the build
    (see :func:`trigram_index_build`).

    The postings scan is restricted TWICE: statically to the SELECTED
    grams' hash buckets (partition pruning — the rarest-k selection
    runs first, against the small gram_df table, so only
    queries x k_grams buckets are ever listed) and then exactly to the
    grams via the broadcast join inside the bucket files.  ``docs`` is
    needed only for the final exact-contains verify of the candidate
    ids."""
    _refuse_headless_index(index_dir)
    d = _norm_docs_text(docs, doc_id, text)
    qn = _norm_substring_queries(queries, qid, q)
    # sum on read: the batch-built index writes one row per gram, a
    # STREAMED index (stream_trigram_ingest) appends per-batch partial
    # counts — the aggregate is a no-op on the former and the correct
    # fold on the latter (vocabulary-sized either way)
    df_g = (
        spark.read.parquet(os.path.join(index_dir, "gram_df"))
        .groupBy("g")
        .agg(F.sum("df").alias("df"))
    )
    sel, n_sel = _select_rarest_grams(qn, df_g, k_grams, gram_key=gram_key)
    buckets = [
        r.bkt
        for r in sel.select(
            F.pmod(F.xxhash64("g"), F.lit(n_buckets)).alias("bkt")
        )
        .distinct()
        .collect()  # driver-ok: <= |queries| * k_grams rows, bounds the scan
    ]
    dg = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .filter(F.col("g_bucket").isin(buckets))
        .select("doc_id", "g")
    )
    return _intersect_and_verify(dg, sel, n_sel, d, qn)
