"""Naive Bayes quality classifier (operators.classify): the
differential gate (quality_classifier) verifies the distributed math
against DuckDB; these tests verify the classifier LEARNS — correct
generalization on a separable corpus, exact OOV/empty-doc fallbacks,
and the evidence direction of the learned weights."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.operators import classify as CL


def _train_docs(spark):
    """Separable corpus: positive docs speak 'clean prose quality',
    negative docs speak 'spam junk casino'."""
    rows = []
    for i in range(30):
        rows.append((i, "clean prose quality writing careful clean prose", 1))
        rows.append((100 + i, "spam junk casino click spam junk offer", 0))
    return spark.createDataFrame(rows, ["doc_id", "text", "label"])


def test_nb_learns_and_generalizes(spark):
    train = _train_docs(spark)
    model = CL.nb_quality_train(train).localCheckpoint(eager=True)
    held = spark.createDataFrame(
        [
            (1000, "careful quality prose"),       # positive-ish, unseen doc
            (1001, "casino click offer junk"),     # negative-ish
            (1002, "clean writing with casino"),   # mixed, leans positive 2:1
        ],
        ["doc_id", "text"],
    )
    got = {r.id: r for r in CL.nb_quality_score(held, model).collect()}
    assert got[1000].pred == 1
    assert got[1001].pred == 0
    assert got[1000].score > 0 > got[1001].score
    assert got[1002].score > got[1001].score
    # weight direction: positive-class tokens carry positive evidence
    w = {r.tk: r.w for r in model.collect()}
    assert w["quality"] > 0 > w["spam"]


def test_nb_oov_and_empty_doc_fallbacks(spark):
    train = _train_docs(spark)
    model = CL.nb_quality_train(train).localCheckpoint(eager=True)
    first = model.first()
    w_oov, prior = first.w_oov, first.prior
    docs = spark.createDataFrame(
        [(1, "zzz qqq xxx"), (2, "   ")], ["doc_id", "text"]
    )
    got = {r.id: r for r in CL.nb_quality_score(docs, model).collect()}
    # all-OOV doc: exactly prior + 3*w_oov (to rounding)
    assert got[1].n_tokens == 3
    assert abs(got[1].score - round(prior + 3 * w_oov, 6)) < 1e-9
    # empty doc: exactly the prior
    assert got[2].n_tokens == 0
    assert abs(got[2].score - round(prior, 6)) < 1e-9
    # balanced corpus: prior is ln((30+1)/(30+1)) = 0
    assert abs(prior) < 1e-12


def test_nb_weights_match_closed_form(spark):
    """One tiny corpus, weights checked against the hand-computed
    Laplace form — pins the exact smoothing/normalization so a silent
    formula drift cannot pass as 'still separates'."""
    train = spark.createDataFrame(
        [(1, "a a b", 1), (2, "b c", 0)], ["doc_id", "text", "label"]
    )
    w = {r.tk: r for r in CL.nb_quality_train(train).collect()}
    tp, tn, v = 3, 2, 3  # pos occurrences, neg occurrences, vocab
    for tk, cp, cn in (("a", 2, 0), ("b", 1, 1), ("c", 0, 1)):
        want = math.log((cp + 1) / (tp + v)) - math.log((cn + 1) / (tn + v))
        assert abs(w[tk].w - want) < 1e-12, tk
    want_oov = math.log(1 / (tp + v)) - math.log(1 / (tn + v))
    assert abs(w["a"].w_oov - want_oov) < 1e-12
    assert abs(w["a"].prior - math.log(2 / 2)) < 1e-12


def test_nb_score_plan_is_join_not_broadcast_of_docs(spark):
    """The weight join must key on token (the model never broadcasts
    in full at web scale is the DESIGN; on this tiny fixture AQE may
    broadcast — what must hold structurally is the pre-aggregated doc
    side: one join row per (doc, token), not per occurrence)."""
    train = _train_docs(spark)
    model = CL.nb_quality_train(train)
    docs = spark.createDataFrame(
        [(1, "spam spam spam spam spam clean")], ["doc_id", "text"]
    )
    out = CL.nb_quality_score(docs, model, materialize=False)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    # the (id, tk) count aggregate sits below the weight join
    assert plan.count("Aggregate") >= 2
    r = out.collect()[0]
    assert r.n_tokens == 6


def test_rank_importance_sample_tilts_and_is_deterministic(spark):
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        rank_importance_sample,
    )

    n = 2000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") + 0.0) / (n - 1)).alias("r"),  # exact [0,1] rank
    )
    out = rank_importance_sample(df, rank_col="r", key_col="doc_id", power=2)
    rows = out.collect()
    kept = [r for r in rows if r.keep == 1]
    # expected keep fraction for p = r^2 over uniform ranks: 1/3
    frac = len(kept) / n
    assert 0.25 < frac < 0.42, frac
    # tilt: the kept set's mean rank must sit well above the dropped set's
    mean_kept = sum(r.r for r in kept) / len(kept)
    dropped = [r for r in rows if r.keep == 0]
    mean_dropped = sum(r.r for r in dropped) / len(dropped)
    assert mean_kept > mean_dropped + 0.2, (mean_kept, mean_dropped)
    # bottom ranks can essentially never survive r^2
    assert not any(r.keep for r in rows if r.r < 0.02)
    # deterministic across runs
    again = {
        (r.doc_id, r.keep)
        for r in rank_importance_sample(
            df, rank_col="r", key_col="doc_id", power=2
        ).collect()
    }
    assert again == {(r.doc_id, r.keep) for r in rows}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="power"):
        rank_importance_sample(df, rank_col="r", key_col="doc_id", power=0)


def test_shuffle_shards_layout_properties(spark):
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        shuffle_shards,
    )

    n = 4000
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    out = shuffle_shards(df, n_shards=8).collect()
    assert len(out) == n
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    # all 8 shards populated, roughly balanced (Fibonacci hash uniform)
    assert set(by_shard) == set(range(8))
    sizes = [len(v) for v in by_shard.values()]
    assert min(sizes) > n / 8 * 0.7 and max(sizes) < n / 8 * 1.3, sizes
    # positions are 1..|shard| dense per shard
    for s, rows in by_shard.items():
        assert sorted(r.pos for r in rows) == list(range(1, len(rows) + 1)), s
    # the shuffle actually breaks id order: adjacent ids rarely stay
    # adjacent in the same shard
    posmap = {r.doc_id: (r.shard, r.pos) for r in out}
    adjacent_kept = sum(
        1
        for i in range(n - 1)
        if posmap[i][0] == posmap[i + 1][0]
        and abs(posmap[i][1] - posmap[i + 1][1]) == 1
    )
    assert adjacent_kept < n * 0.01, adjacent_kept
    # deterministic
    again = {(r.doc_id, r.shard, r.pos) for r in shuffle_shards(df, 8).collect()}
    assert again == {(r.doc_id, r.shard, r.pos) for r in out}


def test_two_phase_rank_windows_partition_bounded(spark):
    """Skew contract (round 13, re-pinned round 14): shuffle_shards
    and stratified_percent_rank must never sort a whole shard/stratum
    in one task — every full-row row_number window in their executed
    plans partitions by the deterministic range bucket (_tp_b), so
    sorts are bucket-local and a mega-group spans many buckets
    (flat-wall harness: tools/scalecheck.py shard_rank).  Round 14 also
    pins the fault-tolerance fix: no lineage-truncating checkpoint
    scan (ExistingRDD / Scan ExistingRDD) may appear in the plan —
    the determinism guard is the pure-expression bucket, not a
    replication-1 localCheckpoint."""
    import re

    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        shuffle_shards,
        stratified_percent_rank,
    )

    df = spark.range(500).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 3).cast("string").alias("source"),
        (F.col("id") % 97).cast("double").alias("score"),
    )
    for out in (
        shuffle_shards(df, n_shards=4),
        stratified_percent_rank(df, "source", "score", "doc_id"),
    ):
        out.count()
        plan = out._jdf.queryExecution().executedPlan().toString()
        specs = re.findall(
            r"row_number\(\).*?windowspecdefinition\(([^)]*)\)", plan
        )
        assert specs, plan[:1500]
        assert all("_tp_b" in s for s in specs), specs
        assert "ExistingRDD" not in plan, plan[:1500]


def test_nb_empty_training_corpus_fails_loudly(spark):
    """The sampled-corpus trap (round-9 fix): a train split whose
    modulus divides the harness's corpus-sampling modulus produces an
    EMPTY training set — NULL weights whose engine-specific null
    comparisons diverge silently.  The trainer must raise instead."""
    import pytest as _pytest

    empty = spark.createDataFrame([], "doc_id bigint, text string, label int")
    model = CL.nb_quality_train(empty)
    assert model.count() == 0  # the trainer's own frame is just empty...
    docs = spark.createDataFrame([(1, "some text")], ["doc_id", "text"])
    # ...so the loud failure fires at scoring time.  WHICH guard's
    # message surfaces is AQE-timing-dependent: when empty-relation
    # propagation removes the trainer's guard subtree before any stage
    # runs, the scorer's own "model is empty" count-guard fires; when
    # the trainer's aggregate stage materializes first, its
    # "training corpus is empty" assert_true wins the race.  Both are
    # the designed loud failures — the contract is that ONE of them
    # raises instead of NULL weights flowing silently.
    with _pytest.raises(
        Exception, match="model is empty|training corpus is empty"
    ):
        CL.nb_quality_score(docs, model).collect()


def test_shards_balanced_after_rank_sampling(spark):
    """Regression pin for the hash-reuse trap (round 9): the shard
    extractor must stay uniform over a corpus that was SELECTED by the
    keep-decision hash — rank^2-sampled survivors are exactly the
    low-_MIX_PRIME-hash ids, and sharding by that same hash piled them
    into the low shards (measured 24x min/max skew before the
    dedicated _SHARD_PRIME)."""
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        rank_importance_sample,
        shuffle_shards,
    )

    n = 8000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") + 0.0) / (n - 1)).alias("r"),
    )
    kept = rank_importance_sample(
        df, rank_col="r", key_col="doc_id", power=2
    ).filter(F.col("keep") == 1)
    out = shuffle_shards(kept, n_shards=8, key_col="doc_id").collect()
    sizes = {}
    for row in out:
        sizes[row.shard] = sizes.get(row.shard, 0) + 1
    assert set(sizes) == set(range(8))
    mean = len(out) / 8
    assert max(sizes.values()) < 1.35 * mean, sizes
    assert min(sizes.values()) > 0.65 * mean, sizes


def test_token_budget_mixture_properties(spark, sf_dir):
    """Budget contract: per-source kept tokens never exceed the budget;
    the cut is maximal (the next doc in admission order would
    overshoot); unspecified sources are dropped; output deterministic."""
    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators.dedup import (
        tokens,
    )
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        _BUDGET_PRIME,
        _MIX_DOMAIN,
        token_budget_mixture,
    )
    from tests.conftest import load

    budgets = {"src0": 700, "src1": 400, "src2": 50}
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source",
        F.size(tokens("text")).cast("bigint").alias("n_tokens"),
    )
    out = token_budget_mixture(docs, budgets, weight_col="n_tokens")
    rows = out.collect()  # driver-ok: bounded by sum(budgets)/min tokens
    assert rows and {r.source for r in rows} <= set(budgets)

    kept = {}
    for r in rows:
        kept.setdefault(r.source, []).append(r)
    all_docs = {
        (r.doc_id, r.source): r.n_tokens
        for r in docs.filter(
            F.col("source").isin(list(budgets))
        ).collect()  # driver-ok: 75-doc fixture slice
    }

    def h(doc_id):
        return (doc_id % _MIX_DOMAIN) * _BUDGET_PRIME % _MIX_DOMAIN

    for src, b in budgets.items():
        used = sum(r.n_tokens for r in kept.get(src, []))
        assert used <= b, src
        # maximality: the first NOT-kept doc in hash order would overshoot
        kept_ids = {r.doc_id for r in kept.get(src, [])}
        rest = sorted(
            (
                (h(d), d, n)
                for (d, s), n in all_docs.items()
                if s == src and d not in kept_ids
            )
        )
        if rest:
            assert used + rest[0][2] > b, src
    # determinism
    again = sorted(
        (r.doc_id, r.cum_tokens)
        for r in token_budget_mixture(
            docs, budgets, weight_col="n_tokens"
        ).collect()  # driver-ok: bounded
    )
    assert again == sorted((r.doc_id, r.cum_tokens) for r in rows)


def test_two_phase_rank_keeps_null_groups(spark):
    """Round-14 fix for the round-13 advice item: the two-phase rank's
    offsets come back through an equi join on the group columns, and a
    plain inner join silently DROPPED rows whose group value is NULL —
    the window shape this replaces kept NULL groups as their own
    partition (so does SQL's PARTITION BY).  The null-safe join must
    rank the NULL stratum like any other, bit-equal to the window."""
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        _two_phase_rank,
        stratified_percent_rank,
    )

    df = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, F.lit(None).cast("string"))
        .otherwise((F.col("id") % 3).cast("string"))
        .alias("source"),
        (F.col("id") % 97).cast("double").alias("score"),
    )
    out = _two_phase_rank(df, ["source"], ["score", "doc_id"], out="rk")
    rows = out.collect()  # driver-ok: 300-row fixture
    assert len(rows) == 300  # no NULL-group row lost
    from pyspark.sql.window import Window as W

    w = W.partitionBy("source").orderBy("score", "doc_id")
    expected = {
        (r.doc_id, r.rk)
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert {(r.doc_id, r.rk) for r in rows} == expected
    # the public wrapper inherits the fix end-to-end
    pr = stratified_percent_rank(df, "source", "score", "doc_id")
    assert pr.count() == 300


def test_two_phase_rank_desc_nulls_last_order(spark):
    """The (name, True) descending order spec must rank NULL order
    values LAST (desc_nulls_last), matching the window it replaces —
    the perplexity_buckets shape (lm_score desc, id tiebreak)."""
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        _two_phase_rank,
    )

    df = spark.range(200).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("string").alias("lang"),
        F.when(F.col("id") % 11 == 0, F.lit(None).cast("double"))
        .otherwise((F.col("id") % 53).cast("double"))
        .alias("lm_score"),
    )
    out = _two_phase_rank(
        df, ["lang"], [("lm_score", True), "doc_id"], out="rk"
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("lang").orderBy(
        F.col("lm_score").desc_nulls_last(), F.col("doc_id")
    )
    expected = {
        (r.doc_id, r.rk)
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {(r.doc_id, r.rk) for r in out.collect()}  # driver-ok: 200 rows
    assert got == expected


def test_two_phase_shapes_are_run_deterministic(spark):
    """Regression for the round-13 exchange-reuse trap: a
    rangepartitioning exchange samples boundaries with a per-RDD seed,
    and before the lazy-localCheckpoint pin the two consumers of the
    ranged frame could sample DIFFERENT boundaries (planner reuse
    breaks when column pruning desynchronizes the subtrees), making
    token_budget_mixture's kept-row count vary RUN TO RUN on identical
    input.  Three invocations must agree exactly."""
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        token_budget_mixture,
    )

    docs = spark.range(120_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 10 < 9, F.lit("megasource"))
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 7).cast("string")))
        .alias("source"),
        (F.col("id") % 37 + 1).cast("bigint").alias("n_tokens"),
    )
    budgets = {"megasource": 240_000, "s1": 120_000, "s3": 50}
    runs = []
    for _ in range(3):
        out = token_budget_mixture(docs, budgets, weight_col="n_tokens")
        runs.append(
            tuple(
                out.select(
                    F.bit_xor(F.xxhash64("doc_id", "cum_tokens")).alias("c"),
                    F.count(F.lit(1)).alias("n"),
                ).collect()[0]
            )
        )
    assert runs[0] == runs[1] == runs[2], runs


def test_token_budget_mixture_empty_budgets_rejected(spark, sf_dir):
    import pytest as _pytest
    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        token_budget_mixture,
    )
    from tests.conftest import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.lit(1).alias("n_tokens")
    )
    with _pytest.raises(ValueError, match="at least one source"):
        token_budget_mixture(docs, {}, weight_col="n_tokens")
