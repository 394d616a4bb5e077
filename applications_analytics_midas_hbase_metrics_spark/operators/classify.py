"""Distributed text classification for corpus curation — the
quality-classifier stage of an LLM data pipeline (the role fastText
plays in CCNet/GPT-3-style filtering: train "does this look like a
high-quality source?" and keep/importance-sample by the score).

Spark-first shape: a multinomial Naive Bayes trains with TWO count
aggregations (per-(token, label) occurrence counts + per-label totals)
and scores with ONE token-keyed equi-join + per-doc weighted sum — no
UDFs, no driver-side model object.  The weight table stays a
first-class DataFrame: at web scale the vocabulary is far too big to
broadcast, and the join IS the scale path (same design as
text.ngram_lm_score's bigram table).  The doc side pre-aggregates to
(id, token, c) before the weight join, so a Zipfian hot token fans out
one row per (doc, token), never one per occurrence.

Everything is integer counts pushed through ``ln`` at the last step,
so scores replay bit-for-bit in the DuckDB differential oracle (the
same determinism argument as ngram_lm_score).

No counterpart in the reference (extension surface, SURVEY.md §7
phase 7 — the reference's Scala engine has no ML/text stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import pinning
from .dedup import tokens


def nb_quality_train(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    smooth: float = 1.0,
) -> DataFrame:
    """Train the token-weight table of a two-class multinomial Naive
    Bayes: for every token of the training corpus,

        ``w = ln((c_pos + s) / (T_pos + s·V)) -
             ln((c_neg + s) / (T_neg + s·V))``

    with ``c_pos/c_neg`` the token's occurrence counts in positive /
    negative docs, ``T_pos/T_neg`` the per-class total occurrences,
    ``V`` the training vocabulary size, and ``s`` the Laplace smoother.
    A positive ``w`` means the token is evidence FOR the positive
    class.  ``label_col`` must be 0/1.

    Returns (token, w, w_oov, prior): ``w_oov`` is the weight an
    UNSEEN token receives (the same formula at c=0) and ``prior`` is
    ``ln((N_pos + s)/(N_neg + s))`` over training doc counts — both
    constant, carried on every row so the model is ONE self-contained
    frame a deployment persists (a few MB per million-token vocab;
    the scorer reads them from any row via first()).

    Two shuffles total: the (token, label) count and the per-label
    totals (a broadcast scalar).  Nothing is ever docs x vocab.
    """
    base = df.select(
        F.col(label_col).cast("int").alias("lbl"),
        tokens(text_col).alias("tks"),
    )
    toks = base.select("lbl", F.explode("tks").alias("tk"))
    # per-(token, class) occurrence counts, one row per distinct token
    cnt = toks.groupBy("tk").agg(
        F.sum(F.when(F.col("lbl") == 1, 1).otherwise(0)).alias("cp"),
        F.sum(F.when(F.col("lbl") == 0, 1).otherwise(0)).alias("cn"),
    )
    # class totals + vocab size + doc-count prior: one small scalar row
    tot = cnt.groupBy().agg(
        F.sum("cp").alias("tp"),
        F.sum("cn").alias("tn"),
        F.count("*").alias("v"),
    )
    nd = base.groupBy().agg(
        F.sum(F.when(F.col("lbl") == 1, 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("lbl") == 0, 1).otherwise(0)).alias("nn"),
    ).select(
        # an empty training corpus yields NULL totals -> NULL weights ->
        # NULL scores whose engine-specific null comparisons diverge
        # silently; fail loudly instead (same guard family as pq_train)
        F.when(
            F.assert_true(
                F.coalesce(F.col("np"), F.lit(0))
                + F.coalesce(F.col("nn"), F.lit(0))
                > 0,
                "nb_quality_train: training corpus is empty",
            ).isNull(),
            F.struct("np", "nn"),
        ).alias("_nd")
    ).select(F.col("_nd.np").alias("np"), F.col("_nd.nn").alias("nn"))
    s = F.lit(float(smooth))

    def _w(cp, cn):
        return F.log((cp + s) / (F.col("tp") + s * F.col("v"))) - F.log(
            (cn + s) / (F.col("tn") + s * F.col("v"))
        )

    return (
        cnt.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(nd))
        .select(
            "tk",
            _w(F.col("cp"), F.col("cn")).alias("w"),
            _w(F.lit(0), F.lit(0)).alias("w_oov"),
            (
                F.log(F.col("np") + s) - F.log(F.col("nn") + s)
            ).alias("prior"),
        )
    )


def nb_quality_score(
    df: DataFrame,
    model: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    materialize: bool = True,
) -> DataFrame:
    """Score documents with a :func:`nb_quality_train` model:
    ``score = prior + Σ_token c(token) · w(token)`` (unseen tokens get
    ``w_oov``), the per-doc log-odds of the positive class;
    ``pred = 1`` when score >= 0.  The score is what a curation
    pipeline thresholds or importance-samples on (keep probability
    ~ sigmoid(score), the CCNet/GPT-3 recipe).

    Shape: docs explode to (id, token, c) — PRE-AGGREGATED so a hot
    token contributes one join row per document — LEFT-join the weight
    table on token (vocab-keyed shuffle join, the model never
    broadcasts in full), then one per-doc sum.  Docs with no tokens
    score exactly ``prior``.

    Returns (id, n_tokens, score, pred); score rounded to 6 decimals
    (differentially stable: integer counts through ln, same argument
    as ngram_lm_score)."""
    # a model trained on an empty/token-less corpus is an EMPTY frame
    # (Catalyst's empty-relation propagation silently removes the
    # trainer's own guard with it): the global agg below always yields
    # one row, so asserting the prior exists HERE fires on any scoring
    # action against a degenerate model instead of emitting NULL scores
    # whose engine-specific null comparisons diverge
    consts = F.broadcast(
        model.groupBy()
        .agg(F.first("w_oov").alias("w_oov"), F.first("prior").alias("prior"))
        .select(
            F.when(
                F.assert_true(
                    F.col("prior").isNotNull(),
                    "nb_quality_score: model is empty (trained on an "
                    "empty or token-less corpus)",
                ).isNull(),
                F.struct("w_oov", "prior"),
            ).alias("_c")
        )
        .select(F.col("_c.w_oov").alias("w_oov"), F.col("_c.prior").alias("prior"))
    )
    base = df.select(
        F.col(id_col).cast("bigint").alias("id"), tokens(text_col).alias("tks")
    )
    # token explode AND final join
    base = pinning.pin(base, "nb_score_tokens", eager=materialize)
    doctoks = (
        base.select("id", F.explode("tks").alias("tk"))
        .groupBy("id", "tk")
        .agg(F.count("*").alias("c"))
    )
    scored = (
        doctoks.join(model.select("tk", "w"), "tk", "left")
        # consts carries its F.broadcast hint from the definition above —
        # an aggregate's size ESTIMATE is not guaranteed small to the
        # planner, so the 1-row frame is hinted once and both crossJoins
        # inherit it (plan pinned broadcast-only in PLANS.md).
        .crossJoin(consts)
        .groupBy("id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            (
                F.first("prior")
                + F.sum(F.col("c") * F.coalesce(F.col("w"), F.col("w_oov")))
            ).alias("_score"),
        )
    )
    return (
        base.select("id")
        .join(scored, "id", "left")
        .crossJoin(consts)
        .select(
            "id",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"),
            F.round(F.coalesce("_score", F.col("prior")), 6).alias("score"),
            (F.coalesce("_score", F.col("prior")) >= 0)
            .cast("int")
            .alias("pred"),
        )
    )
