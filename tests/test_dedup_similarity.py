"""Dedup + similarity operator tests (training-data pipeline extensions)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from applications_analytics_midas_hbase_metrics_spark.operators import dedup as D
from applications_analytics_midas_hbase_metrics_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy"),      # near dup of 1
        (4, "completely different content about spark engines"),
        (5, ""),  # empty doc
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_tokens_and_shingles(spark):
    df = spark.createDataFrame([("A  b C",)], ["text"])
    out = df.select(
        D.tokens("text").alias("t"),
        D.word_shingles(D.tokens("text"), 2).alias("s2"),
        D.word_shingles(D.tokens("text"), 5).alias("s5"),
    ).first()
    assert out.t == ["a", "b", "c"]
    assert out.s2 == ["a b", "b c"]
    assert out.s5 == ["a b c"]  # shorter than k -> whole text


def test_exact_duplicates(docs):
    groups = D.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert groups[0].n_copies == 2 and groups[0].keep_id == 1
    kept = D.drop_exact_duplicates(docs)
    assert kept.count() == 4
    assert kept.filter(F.col("doc_id") == 2).count() == 0


def test_exact_duplicates_caps_all_ids(spark):
    # a degenerate group (here 250 identical docs) must not materialize
    # an unbounded id array — but the counts stay exact
    df = spark.createDataFrame(
        [(i, "same text") for i in range(250)], ["doc_id", "text"]
    )
    g = D.exact_duplicates(df, max_ids=100).first()
    assert g.n_copies == 250
    assert g.keep_id == 0
    assert len(g.all_ids) == 100
    assert g.all_ids == sorted(g.all_ids) and g.all_ids[0] == 0


def test_minhash_finds_near_dup(docs):
    pairs = D.minhash_near_duplicates(docs, threshold=0.3, shingle_k=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup -> jaccard 1.0
    assert (1, 3) in got and (2, 3) in got  # near dup
    assert all(4 not in p for p in got)


def test_minhash_exact_dup_has_jaccard_one(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in D.minhash_near_duplicates(docs, threshold=0.3, shingle_k=2).collect()
    }
    assert pairs[(1, 2)] == 1.0


def test_minhash_chunked_verify_equivalence(spark, monkeypatch):
    """The budget-bounded chunked verify (round 16: the one-shuffle
    pair×hash-set payload grows quadratically on low-Jaccard-floor
    corpora and exhausted the rung disk) must be a pure execution-plan
    change: forced into the k>1 chunk regime on a small corpus, the
    operator returns exactly the one-pass rows.  The trigger
    (plan-size estimate + payload budget) never fires at test scale,
    so forcing it here is the only sub-rung coverage the chunked path
    gets."""
    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators import (
        dedup as dd,
        pinning,
    )

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha beta gamma delta epsilon zeta eta theta"),
            F.conv(F.col("id") % 7, 10, 16),
            F.lit("iota kappa lambda mu nu xi omicron pi rho sigma"),
        ).alias("text"),
    )
    base_rows = sorted(
        tuple(r)
        for r in dd.minhash_near_duplicates(
            docs, threshold=0.4, shingle_k=2
        ).collect()
    )
    monkeypatch.setattr(pinning, "SMALL_FRAME_BYTES", 1)
    monkeypatch.setattr(dd, "VERIFY_CHUNK_BYTES", 200_000)  # forces k of ~3-5
    chunked_rows = sorted(
        tuple(r)
        for r in dd.minhash_near_duplicates(
            docs, threshold=0.4, shingle_k=2
        ).collect()
    )
    assert chunked_rows == base_rows and len(base_rows) > 0


def test_minhash_chunked_verify_releases_pins_on_error(spark, monkeypatch):
    """A chunk job that fails mid-loop leaves no pin of the chunked
    verify behind: the candidate checkpoint, the partitioned hash-set
    persist and the finished first chunk are released with the loop's
    pin scope.  Compared as RDD ids created during the _verify_chunked
    call (see test_merge_cells_releases_change_checkpoint_on_error)."""
    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators import (
        dedup as dd,
        pinning,
    )
    from tests.conftest import persistent_rdd_ids

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.lit("alpha beta gamma delta epsilon zeta eta theta"),
            F.conv(F.col("id") % 7, 10, 16),
            F.lit("iota kappa lambda mu nu xi omicron pi rho sigma"),
        ).alias("text"),
    )
    monkeypatch.setattr(pinning, "SMALL_FRAME_BYTES", 1)
    monkeypatch.setattr(dd, "VERIFY_CHUNK_BYTES", 200_000)  # forces k of ~3-5
    calls = []
    real_verify = dd._verify_pairs

    def verify_failing_second_chunk(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("chunk 2 failed")
        return real_verify(*args, **kwargs)

    leaked = []
    real_chunked = dd._verify_chunked

    def chunked(*args, **kwargs):
        before = persistent_rdd_ids(spark)
        try:
            return real_chunked(*args, **kwargs)
        finally:
            leaked.append(persistent_rdd_ids(spark) - before)

    monkeypatch.setattr(dd, "_verify_pairs", verify_failing_second_chunk)
    monkeypatch.setattr(dd, "_verify_chunked", chunked)
    with pytest.raises(RuntimeError, match="chunk 2 failed"):
        dd.minhash_near_duplicates(docs, threshold=0.4, shingle_k=2)
    assert len(calls) == 2
    assert leaked == [set()]


def test_simhash_identical_and_distant(docs):
    fps = {r.id: r.simhash for r in D.simhash_fingerprints(docs).collect()}
    assert fps[1] == fps[2]  # identical text -> identical fingerprint
    assert fps[1] != fps[4]
    assert 5 not in fps  # empty doc -> no fingerprint
    pairs = D.simhash_near_duplicates(docs, max_hamming=3)
    got = {(r.id_a, r.id_b, r.hamming) for r in pairs.collect()}
    assert (1, 2, 0) in got


def test_simhash_banding_catches_top_bit_diffs(spark):
    # Regression: a single prefix block missed pairs whose differing
    # bits touched the top byte.  Multi-band blocking (pigeonhole over
    # max_hamming+1 bands) must find them.
    fps = [
        (1, 0),
        (2, (1 << 31) | (1 << 30)),          # 2 diffs, both in the TOP band
        (3, (1 << 31) | (1 << 15) | 1),      # 3 diffs spread across bands
        (4, (1 << 8) - 1),                   # 8 diffs -> not a near-dup
    ]
    fp = spark.createDataFrame(fps, "id long, simhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash_pairs_from_fingerprints(fp, max_hamming=3).collect()
    }
    assert got[(1, 2)] == 2
    assert got[(1, 3)] == 3
    assert got[(2, 3)] == 3  # bits 31 cancel; 30,15,0 differ
    assert (1, 4) not in got


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgh"), (3, "zzzzzzzz")], ["doc_id", "text"]
    )
    out = D.ngram_jaccard_pairs(
        df, df, F.col("id_b") == F.col("id_a") + 1, n=3
    ).collect()
    j = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert j[(1, 2)] == 1.0
    assert j[(2, 3)] == 0.0


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_embedding_near_duplicates_finds_perturbed(spark, embeddings):
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = embeddings.limit(50).select("vec_id", vd.alias("embedding"))
    pert = base.select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x * 1.001).alias("embedding"),
    )
    pairs = D.embedding_near_duplicates(base.union(pert), threshold=0.99)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    base_ids = [r.vec_id for r in base.collect()]
    for i in base_ids:
        assert (i, i + 1000) in got  # every perturbed copy found
    # scaling a vector keeps cosine == 1
    sample = pairs.filter(F.col("id_a") == base_ids[0]).first()
    assert sample.cos == pytest.approx(1.0, abs=1e-6)


def test_embedding_near_duplicates_tolerates_null_vectors(spark, embeddings):
    """A null (or wrong-length) embedding gets a NULL hyperplane signature
    — it silently drops out of the bucket join instead of crashing the
    vectorized UDF's np.stack (ADVICE r5): parity with the old
    zip_with/aggregate path, where a null vector folded to null."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = embeddings.limit(20).select("vec_id", vd.alias("embedding"))
    bad = spark.createDataFrame(
        [(90001, None), (90002, [1.0, 2.0])],
        "vec_id bigint, embedding array<double>",
    )
    dup = base.limit(1).select(
        (F.col("vec_id") + 5000).alias("vec_id"), F.col("embedding")
    )
    pairs = D.embedding_near_duplicates(base.union(bad).union(dup), threshold=0.99)
    rows = pairs.collect()
    ids = {i for r in rows for i in (r.id_a, r.id_b)}
    assert not ids & {90001, 90002}  # malformed vectors never pair
    first_id = base.first().vec_id
    assert (first_id, first_id + 5000) in {(r.id_a, r.id_b) for r in rows}


def test_ngram_blocked_fixture_pair_floor(spark):
    """Pin the recall argument in q_dedup_ngram_blocked's docstring: the
    64-hash/32-band setting is safe because every TRUE pair of the gated
    fixture (sf0.01, doc_id % 10 == 0, threshold 0.5) sits at jaccard
    >= 0.59, where the per-pair miss probability (1 - 0.59^2)^32 ~ 1e-6.
    If fixture drift ever pushes a true pair below the floor, this fails
    before the hash gate can go quietly marginal."""
    from applications_analytics_midas_hbase_metrics_spark.plans import queries as Q

    # tier-agnostic lookup: the row is gated as of round 15 (the
    # mid-build rotation that moved it to the extra tier was reverted),
    # and this floor pin must hold wherever future rotations put it
    fn = Q.QUERIES.get("dedup_ngram_blocked") or Q.EXTRA_QUERIES["dedup_ngram_blocked"]
    out = fn(spark, "/root/testdata/sf0.01")
    rows = out.collect()
    assert rows, "fixture must produce true pairs"
    assert min(r.jaccard for r in rows) >= 0.59, min(r.jaccard for r in rows)


def test_lsh_pairs_between_matches_self_join_cross_subset(spark):
    """The cross-corpus band join (persisted-signature incremental path)
    must emit exactly the self-join core's cross-side pairs: same band
    hashes, same prefilter, same verify — split a corpus in two, run
    both paths, compare pair sets and jaccard values."""
    # doc 2m and 2m+1 share a group-g body (near-dups ACROSS the split);
    # a per-doc suffix keeps them near- rather than exact duplicates
    rows = [
        (k, f"g{k // 2} a{k // 2} b{k // 2} c{k // 2} d{k // 2} "
            f"common words here suffix{k} tail{k}")
        for k in range(40)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    def prep(d):
        return d.select(
            F.col("doc_id").alias("id"),
            D.word_shingle_strings("text", 3).alias("shingles"),
        )

    left = df.filter(F.col("doc_id") % 2 == 0)
    right = df.filter(F.col("doc_id") % 2 == 1)
    cross = D.lsh_pairs_between(
        D.minhash_signature_frame(prep(left), 96),
        D.minhash_signature_frame(prep(right), 96),
        num_hashes=96, threshold=0.3,
    )
    full = D.lsh_near_duplicates(prep(df), num_hashes=96, threshold=0.3,
                                 materialize=False)
    got = {(r.id_a, r.id_b): r.jaccard for r in cross.collect()}
    want = {}
    for r in full.collect():
        if r.id_a % 2 == 0 and r.id_b % 2 == 1:
            want[(r.id_a, r.id_b)] = r.jaccard
        elif r.id_a % 2 == 1 and r.id_b % 2 == 0:
            want[(r.id_b, r.id_a)] = r.jaccard
    assert got == want and got, (len(got), len(want))


def test_minhash_fixture_pair_floor(spark):
    """Pin q_dedup_minhash's 64-hash recall argument: every true pair of
    the GATED (sf0.01) word-shingle fixture sits at jaccard >= 0.6,
    where the r=2, b=32 banding miss probability is ~6e-7 per pair.
    Fixture drift below the floor fails here before the driver's hash
    gate could go quietly marginal.  (The sf0.1 bench corpus has a few
    pairs at the 0.5 threshold itself — covered by the empirical
    differential check at that scale, not by this floor.)"""
    from applications_analytics_midas_hbase_metrics_spark.plans import queries as Q

    out = Q.QUERIES["dedup_minhash"](spark, "/root/testdata/sf0.01")
    rows = out.collect()
    assert rows, "fixture must produce true pairs"
    assert min(r.jaccard for r in rows) >= 0.6, min(r.jaccard for r in rows)


def test_brute_force_topk_self_excluded_and_ranked(embeddings):
    q = embeddings.filter(F.col("vec_id") < 3)
    out = SIM.brute_force_topk(embeddings, q, k=5)
    rows = out.collect()
    assert len(rows) == 15
    by_q = {}
    for r in rows:
        assert r.corpus_id != r.query_id
        by_q.setdefault(r.query_id, []).append((r.rank, r.cos))
    for ranked in by_q.values():
        ranked.sort()
        cosines = [c for _, c in ranked]
        assert cosines == sorted(cosines, reverse=True)


def test_ivf_centroid_seeding_plan_is_distributed(embeddings):
    # Seed selection must compile to TakeOrderedAndProject (distributed
    # per-partition top-N), never a global row_number window that sorts
    # the whole corpus into one partition.
    seeds = SIM.build_ivf_centroids(embeddings, num_centroids=8, lloyd_steps=0)
    plan = seeds._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    rows = sorted(seeds.collect(), key=lambda r: r.centroid_id)
    assert [r.centroid_id for r in rows] == list(range(8))
    assert all(len(r.centroid) == 64 for r in rows)


def test_top_k_per_group_deterministic(spark):
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import top_k_per_group

    rows = [(i, "a" if i % 2 == 0 else "b", f"t{i}") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"]).repartition(8)
    kept = top_k_per_group(df, "source", "doc_id", k=5)
    got = sorted((r.source, r.doc_id) for r in kept.collect())
    assert got == [("a", 0), ("a", 2), ("a", 4), ("a", 6), ("a", 8),
                   ("b", 1), ("b", 3), ("b", 5), ("b", 7), ("b", 9)]
    # payload columns survive the semi-join
    assert set(kept.columns) == {"doc_id", "source", "text"}


def test_top_k_per_group_small_groups(spark):
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import top_k_per_group

    df = spark.createDataFrame([(1, "x"), (2, "x"), (3, "y")], ["doc_id", "source"])
    kept = top_k_per_group(df, "source", "doc_id", k=10)
    assert kept.count() == 3  # groups smaller than k pass through whole


def test_semantic_dedup_buckets_and_prunes(spark):
    from applications_analytics_midas_hbase_metrics_spark.operators.similarity import (
        build_ivf_centroids,
        semantic_dedup,
    )

    # two well-separated directions; ids 0/1 become the seed centroids
    e1, e2 = [1.0, 0.0, 0.0], [0.0, 1.0, 0.0]
    rows = [
        (0, e1),                      # seed A, kept
        (1, e2),                      # seed B, kept
        (2, [0.99, 0.01, 0.0]),       # ~e1 -> bucket A, dup of 0
        (3, [0.0, 0.98, 0.02]),      # ~e2 -> bucket B, dup of 1
        (4, [0.7, 0.0, 0.714]),       # bucket A but cos(4,0)=0.70 < thr -> kept
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = build_ivf_centroids(df, num_centroids=2, lloyd_steps=0)
    got = {
        r.id: (r.cluster_id, r.keep)
        for r in semantic_dedup(df, cents, threshold=0.95).collect()
    }
    assert len(got) == 5
    assert got[0] == (0, 1) and got[2] == (0, 0) and got[4] == (0, 1)
    assert got[1] == (1, 1) and got[3] == (1, 0)


def test_mixture_sample_deterministic_and_rate_shaped(spark):
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        _MIX_DOMAIN,
        _MIX_PRIME,
        mixture_sample,
    )

    rows = [(i, ["en", "de", "zh"][i % 3]) for i in range(3000)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    rates = {"en": 1.0, "de": 0.5, "zh": 0.0}
    kept = mixture_sample(df, rates, strat_col="lang").collect()

    def bucket(i):
        # high bits of the Fibonacci hash — exact replay of the operator
        return (i % _MIX_DOMAIN) * _MIX_PRIME % _MIX_DOMAIN * 100 // _MIX_DOMAIN

    # exact Python replay of the keep-decision — determinism, not stats
    expect = {(i, lg) for i, lg in rows if bucket(i) < round(rates[lg] * 100)}
    assert {(r.doc_id, r.lang) for r in kept} == expect
    by_lang = {lg: sum(1 for _, l2 in expect if l2 == lg) for lg in rates}
    assert by_lang["en"] == 1000          # rate 1.0 keeps everything
    assert by_lang["zh"] == 0             # rate 0.0 keeps nothing
    assert 400 <= by_lang["de"] <= 600    # rate 0.5 keeps about half
    # float-threshold regression (review r7): 0.07*100 is
    # 7.000000000000001 in IEEE — the integer-threshold compare must
    # keep exactly the 7 buckets 0..6, never an 8th
    seven = spark.createDataFrame(
        [(i, "en") for i in range(200000)], ["doc_id", "lang"]
    )
    kept7 = mixture_sample(seven, {"en": 0.07}, strat_col="lang").count()
    exact7 = sum(1 for i in range(200000) if bucket(i) < 7)
    assert kept7 == exact7
    # DECORRELATION from the mod-100 train/val/test split (the round-6
    # advice bug: a mod-100 bucket of id*prime is an affine permutation
    # of id mod 100, deterministically coupling the two decisions).
    # Within EACH split residue class mod 100, a 0.5-rate stratum must
    # keep roughly half — impossible under the old coupled bucket,
    # where each residue was kept either always or never.
    for residue_lo in range(0, 100, 20):  # spot-check 5 residue bands
        ids = [i for i in range(residue_lo, 30000, 100)]  # one residue class
        kept_frac = sum(1 for i in ids if bucket(i) < 50) / len(ids)
        assert 0.3 <= kept_frac <= 0.7, (residue_lo, kept_frac)
    # strata missing from the rate map keep default_rate
    extra = spark.createDataFrame([(1, "fr")], ["doc_id", "lang"])
    assert mixture_sample(extra, rates, strat_col="lang").count() == 1
    assert (
        mixture_sample(extra, rates, strat_col="lang", default_rate=0.0).count()
        == 0
    )


def test_stratified_percent_rank_matches_model(spark):
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        stratified_percent_rank,
    )

    rows = [
        # group a: distinct scores; group b: all-tied scores (id breaks them)
        (1, "a", 0.3), (2, "a", 0.1), (3, "a", 0.2),
        (4, "b", 0.5), (5, "b", 0.5), (6, "b", 0.5),
        (7, "c", 0.9),                # singleton -> rank 0.0
    ]
    df = spark.createDataFrame(rows, ["id", "grp", "score"])
    got = {
        r.id: r.pct_rank
        for r in stratified_percent_rank(df, "grp", "score", "id").collect()
    }
    assert got[2] == 0.0 and got[3] == 0.5 and got[1] == 1.0
    assert got[4] == 0.0 and got[5] == 0.5 and got[6] == 1.0
    assert got[7] == 0.0


def test_map_side_curation_ops_plan_no_exchange(spark):
    """mixture_sample and chunk_documents advertise themselves as pure
    map-side operators (their 100 TB story) — pin it in the physical
    plan: zero Exchange nodes over a plain scan-shaped input."""
    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        mixture_sample,
    )
    from applications_analytics_midas_hbase_metrics_spark.operators.text import (
        chunk_documents,
    )

    df = spark.createDataFrame(
        [(i, "en", "some text here for chunks") for i in range(10)],
        ["doc_id", "lang", "text"],
    )
    from applications_analytics_midas_hbase_metrics_spark.operators.text import (
        blocklist_filter,
    )

    for out in (
        mixture_sample(df, {"en": 0.5}, strat_col="lang"),
        chunk_documents(df, window=3, stride=2),
        blocklist_filter(df, ("text",), max_frac=0.1),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_no_global_windows_in_package():
    # grep-style guard: every window in the package must be keyed
    # (Window.partitionBy(...).orderBy(...)); a bare Window.orderBy is a
    # single-partition global sort — a scale-killer.
    import glob, os, re
    pkg = os.path.join(
        os.path.dirname(__file__), "..", "applications_analytics_midas_hbase_metrics_spark"
    )
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        lines = open(path).read().splitlines()
        for i, line in enumerate(lines):
            if not re.search(r"Window\s*\.\s*orderBy", line):
                continue
            # explicit waiver for windows PROVEN bounded (e.g. one row
            # per partition in the two-phase prefix sum) — the waiver
            # comment must appear on the line or just above it
            ctx = "\n".join(lines[max(0, i - 4) : i + 1])
            if "bounded-global-window-ok" not in ctx:
                offenders.append(f"{os.path.basename(path)}:{i + 1}")
    assert offenders == []


def test_ivf_topk_recall_vs_brute_force(embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    brute = SIM.brute_force_topk(embeddings, q, k=5)
    cents = SIM.build_ivf_centroids(embeddings, num_centroids=8)
    approx = SIM.ivf_topk(embeddings, q, cents, k=5, nprobe=4)
    b = {(r.query_id, r.corpus_id) for r in brute.collect()}
    a = {(r.query_id, r.corpus_id) for r in approx.collect()}
    recall = len(a & b) / len(b)
    assert recall >= 0.5, f"IVF recall too low: {recall}"

def test_shingle_hashes_equal_hashed_string_shingles(spark):
    # the hash-valued shingle sets must be EXACTLY the xxhash64 image of
    # the string shingle sets (same distinct semantics, same short-doc
    # fallback) — this is what makes jaccard-on-hashes == jaccard-on-
    # strings up to 64-bit collisions
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "one two"),  # shorter than k -> whole-text shingle
            (3, "a a a a a"),  # repeated tokens -> distinct collapses
            (4, "Mixed CASE text mixed case TEXT"),
        ],
        ["doc_id", "text"],
    )
    toks = D.tokens("text")
    rows = df.select(
        F.sort_array(D.word_shingle_hashes(toks, 3)).alias("hashed"),
        F.sort_array(
            F.transform(D.word_shingles(toks, 3), lambda s: F.xxhash64(s))
        ).alias("expected"),
        F.sort_array(D.char_ngram_hashes("text", 5)).alias("hashed_ng"),
        F.sort_array(
            F.transform(D.char_ngrams("text", 5), lambda s: F.xxhash64(s))
        ).alias("expected_ng"),
    ).collect()
    for r in rows:
        assert r.hashed == r.expected
        assert r.hashed_ng == r.expected_ng


def test_no_driver_collect_in_package():
    # the package must stay distributed: no .collect()/.toPandas() in any
    # operator/plan module (the bounded limit(1).count() convergence
    # probe in graph.py is the sanctioned driver-side control flow).
    # A line may opt out ONLY with an explicit `# driver-ok:` marker
    # stating why bounded driver state is the algorithm (e.g. BPE's
    # one-winner-per-round argmax) — the annotation keeps every
    # exception visible and reviewable here.
    import glob, os, re
    pkg = os.path.join(
        os.path.dirname(__file__), "..", "applications_analytics_midas_hbase_metrics_spark"
    )
    offenders = []
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        for i, line in enumerate(open(path).read().splitlines(), 1):
            if re.search(r"\.collect\(\)|\.toPandas\(\)", line):
                if "# driver-ok:" in line:
                    continue
                offenders.append(f"{os.path.basename(path)}:{i}")
    assert offenders == []


def test_lazy_mode_pins_recorded_and_released(spark, docs, monkeypatch):
    # materialize=False pins the internal signature frames lazily —
    # handles the caller cannot reach.  They are recorded in the
    # caller's pin scope and released when it closes, under either lazy
    # flavor, with identical rows.  Asserted on the pins' OWN identity
    # (is_cached), never on a global cache count.
    from applications_analytics_midas_hbase_metrics_spark.operators import (
        pinning,
    )

    rows = []
    for threshold, flavor in ((1 << 100, "persist"), (0, "persist_disk")):
        monkeypatch.setattr(pinning, "SMALL_FRAME_BYTES", threshold)
        with pinning.scope() as s:
            lazy = D.minhash_near_duplicates(
                docs, threshold=0.5, materialize=False
            )
            rows.append(sorted(tuple(r) for r in lazy.collect()))
            pins = [p.frame for p in s.pins]
            assert len(pins) >= 1  # signature frames
            assert {p.flavor for p in s.pins} == {flavor}
            for f in pins:
                assert f.is_cached
        for f in pins:
            assert not f.is_cached
    assert rows[0] == rows[1] and rows[0]


def test_regex_shingles_equal_hof_shingles(spark):
    # the regex-lookahead shingle builders must emit EXACTLY the sets the
    # transform-lambda forms produce — same normalization, same short-doc
    # fallback, grams across newlines included
    rows = [
        (1, "The  quick\tbrown fox\njumps over"),
        (2, "one two"),            # shorter than k=3 -> whole-text shingle
        (3, "tiny"),               # shorter than n=5 chars -> whole text
        (4, "a  B   c d\n\ne"),    # multi-whitespace runs
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = df.select(
        F.sort_array(D.word_shingle_strings("text", 3)).alias("w_re"),
        F.sort_array(D.word_shingles(D.tokens("text"), 3)).alias("w_hof"),
        F.sort_array(D.char_ngram_strings("text", 5)).alias("c_re"),
        F.sort_array(D.char_ngrams("text", 5)).alias("c_hof"),
    ).collect()
    for r in out:
        assert r.w_re == r.w_hof
        assert r.c_re == r.c_hof


def test_topk_drops_degenerate_cosine_in_both_phases(spark):
    # a zero-norm vector scores NULL (try_divide under ANSI — a plain /
    # would ABORT the job with DIVIDE_BY_ZERO); it must never surface as
    # a neighbor, and must not error, in either ranking phase.  k >
    # |corpus| forces the underfull-partition path where a DESC window
    # would otherwise rank NaN/NULL inconsistently with array_sort.
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.8, 0.2, 0.0]),
        (99, [0.0, 0.0, 0.0]),  # zero norm -> NULL cosine
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = corpus.filter(F.col("vec_id") == 0)
    out = SIM.brute_force_topk(corpus, queries, k=10).collect()
    ids = [r.corpus_id for r in out]
    assert 99 not in ids
    assert ids == [1, 2]
    assert [r.rank for r in out] == [1, 2]
    # the exact top-k is the truth the ANN recall checks compare against:
    # pin its cosine values (6 places) to hand-computed ones
    assert [r.cos for r in out] == [
        round(0.9 / math.sqrt(0.82), 6),
        round(0.8 / math.sqrt(0.68), 6),
    ]


def test_semantic_dedup_cover_chain_components(spark):
    """Chain A~B, B~C with A!~C (cos 0.956 / 0.956 / 0.829 at threshold
    0.95): cover semantics keeps exactly the component minimum and
    records it as every dropped row's rep_id — plus an isolated vector
    keeps itself."""
    import math

    from applications_analytics_midas_hbase_metrics_spark.operators import (
        similarity as SIM,
    )

    def vec(deg):
        r = math.radians(deg)
        return [math.cos(r), math.sin(r), 0.0, 0.0]

    rows = [
        (1, vec(0.0)), (2, vec(17.0)), (3, vec(34.0)),  # the chain
        (9, [0.0, 0.0, 1.0, 0.0]),                      # isolated
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = spark.createDataFrame(
        [(0, [1.0, 0.2, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        ["centroid_id", "centroid"],
    )
    got = {
        r.id: r
        for r in SIM.semantic_dedup_cover(corpus, cents, threshold=0.95).collect()
    }
    assert (got[1].keep, got[1].rep_id) == (1, 1)
    assert (got[2].keep, got[2].rep_id) == (0, 1)
    assert (got[3].keep, got[3].rep_id) == (0, 1)  # via the chain, not direct
    assert (got[9].keep, got[9].rep_id) == (1, 9)
    assert got[9].cluster_id == 1 and got[1].cluster_id == 0


def test_hashed_embedding_bridges_to_ann(spark):
    """hashed_embedding → dense_from_sparse → brute_force_topk: an
    exact-duplicate document must surface as its twin's top neighbor at
    cosine 1.0 — the text-to-ANN composition the long-form embedding
    exists to enable."""
    from applications_analytics_midas_hbase_metrics_spark.operators import (
        embeddings as EMB,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon zeta"),   # exact twin of 1
        (3, "eta theta iota kappa lambda mu nu xi"),
        (4, "omicron pi rho sigma tau upsilon"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sparse = EMB.hashed_embedding(docs, dim=32)
    dense = EMB.dense_from_sparse(sparse, dim=32)
    # every embedding L2-normalized, dense width == dim
    for r in dense.collect():
        assert len(r.embedding) == 32
        assert sum(x * x for x in r.embedding) == pytest.approx(1.0, abs=1e-4)
    top = SIM.brute_force_topk(
        dense, dense.filter(F.col("id") == 1), k=1, vec_col="embedding",
        id_col="id",
    ).first()
    assert (top.corpus_id, top.rank) == (2, 1)
    assert top.cos == pytest.approx(1.0, abs=1e-6)


def test_codebook_sampled_training_keeps_size(spark):
    """train_mod trains Lloyd on a deterministic sample; the codebook
    size is an INVARIANT — a centroid with no sampled trainees keeps
    its previous position (empty-cluster guard) instead of vanishing."""
    import random

    rng = random.Random(5)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(400)
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    full = SIM.build_ivf_centroids(corpus, num_centroids=64, lloyd_steps=1)
    sampled = SIM.build_ivf_centroids(
        corpus, num_centroids=64, lloyd_steps=1, train_mod=16
    )
    assert full.count() == 64
    assert sampled.count() == 64  # 25 trainees over 64 clusters: most empty
    # sampled codebook still drives a complete, valid index
    idx = SIM.ivf_index(corpus, sampled)
    assert idx.count() == 400
    assert idx.select("list_id").distinct().count() <= 64


def test_temperature_mixture_rebalances(spark):
    """alpha=0.5: kept sizes ~ sqrt(n_s) — the dominant stratum shrinks
    toward the minority ones, the smallest keeps everything."""
    import math

    from applications_analytics_midas_hbase_metrics_spark.operators.sampling import (
        temperature_mixture,
    )

    rows = (
        [(i, "big") for i in range(9000)]
        + [(9000 + i, "mid") for i in range(900)]
        + [(9900 + i, "tiny") for i in range(100)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = temperature_mixture(df, alpha=0.5, strat_col="lang")
    by = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by["tiny"] == 100                       # smallest keeps all
    # expected rates: sqrt(100/9000)=0.1054, sqrt(100/900)=0.3333
    assert abs(by["big"] / 9000 - math.sqrt(100 / 9000)) < 0.02
    assert abs(by["mid"] / 900 - math.sqrt(100 / 900)) < 0.05
    # deterministic: a rerun keeps the identical set
    again = {r.doc_id for r in temperature_mixture(df, 0.5, "lang").collect()}
    assert again == {r.doc_id for r in kept.collect()}
    # alpha=1 keeps the natural distribution (rate 1 everywhere)
    assert temperature_mixture(df, alpha=1.0, strat_col="lang").count() == 10000


def test_ivf_recall_floor_and_full_probe_exact(embeddings):
    """Pin the recall-vs-nprobe contract at a larger codebook: recall
    must not collapse at small nprobe, must not decrease (beyond noise)
    as nprobe grows, and probing EVERY list must reproduce the exact
    brute-force top-k (IVF with nprobe=C partitions, it never drops
    candidates inside probed lists)."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = embeddings.select("vec_id", vd.alias("embedding")).localCheckpoint(
        eager=True
    )
    q = corpus.filter(F.col("vec_id") % 37 == 0)
    truth = {
        (r.query_id, r.corpus_id)
        for r in SIM.brute_force_topk(corpus, q, k=5).collect()
    }
    c = 32
    cents = SIM.build_ivf_centroids(corpus, num_centroids=c, lloyd_steps=1)
    cents = cents.localCheckpoint(eager=True)
    index = SIM.ivf_index(corpus, cents).localCheckpoint(eager=True)

    def recall(nprobe):
        got = {
            (r.query_id, r.corpus_id)
            for r in SIM.ivf_topk(
                corpus, q, cents, k=5, nprobe=nprobe, index=index
            ).collect()
        }
        return len(got & truth) / len(truth)

    r4, r16, r_full = recall(4), recall(16), recall(c)
    # C=32 over ~2k fixture vectors is deliberately fragmented (~60 per
    # list, true neighbors scattered): 0.3 is the floor that catches a
    # broken probe selection without pinning corpus-dependent noise
    assert r4 >= 0.3, f"recall@nprobe=4 too low: {r4}"
    assert r16 >= r4 - 0.05, (r4, r16)
    assert r16 >= 0.7, f"recall@nprobe=16 too low: {r16}"
    assert r_full == 1.0, f"full probe must be exact, got {r_full}"


def test_pq_shapes_and_reranked_recall(embeddings):
    """PQ contract: m x ksub codebook rows, m in-range codes per vector,
    raw-ADC top-k beats random, and the shortlist+exact-rerank stage
    reaches the recall the shortlist contains with EXACT cosine scores
    on every true hit."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = embeddings.select("vec_id", vd.alias("embedding")).localCheckpoint(
        eager=True
    )
    m, ksub = 16, 32
    books = SIM.pq_train(corpus, m=m, ksub=ksub, lloyd_steps=1).localCheckpoint(
        eager=True
    )
    assert books.count() == m * ksub
    codes = SIM.pq_encode(corpus, books, m=m).localCheckpoint(eager=True)
    r = codes.first()
    assert len(r.codes) == m and all(0 <= c < ksub for c in r.codes)
    assert codes.count() == corpus.count()

    q = corpus.filter(F.col("vec_id") % 97 == 0)
    truth = {
        (x.query_id, x.corpus_id): x.cos
        for x in SIM.brute_force_topk(corpus, q, k=5).collect()
    }
    rr = SIM.pq_topk(q, books, codes, k=5, m=m, rerank=corpus).collect()
    got = {(x.query_id, x.corpus_id): x.cos for x in rr}
    recall = len(got.keys() & truth.keys()) / len(truth)
    assert recall >= 0.5, f"reranked PQ recall too low: {recall}"
    # rerank scores are EXACT cosine — identical to brute force on hits
    for key in got.keys() & truth.keys():
        assert abs(got[key] - truth[key]) < 1e-9, key
    # a query never returns itself
    assert all(a != b for a, b in got)


def test_pq_zero_norm_vectors_drop_out(spark, embeddings):
    """Zero-norm vectors cannot be normalized: they must vanish from
    training, encoding, and querying instead of erroring or pairing."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = embeddings.limit(30).select("vec_id", vd.alias("embedding"))
    zeros = spark.createDataFrame(
        [(90001, [0.0] * 64)], "vec_id bigint, embedding array<double>"
    )
    corpus = base.union(zeros)
    books = SIM.pq_train(corpus, m=8, ksub=4, lloyd_steps=1)
    codes = SIM.pq_encode(corpus, books, m=8)
    ids = {r.id for r in codes.collect()}
    assert 90001 not in ids
    out = SIM.pq_topk(corpus, books, codes, k=3, m=8)
    assert not any(
        90001 in (r.query_id, r.corpus_id) for r in out.collect()
    )


def test_ivf_pq_full_probe_full_shortlist_exact(embeddings):
    """The IVF-PQ safety rail (the ivf/pq rails composed): probing EVERY
    coarse list with a corpus-wide shortlist and exact rerank must
    reproduce brute force exactly — the approximations (probe pruning,
    ADC estimate) only ever SELECT candidates; the rerank re-scores
    with true cosine, so with nothing pruned the result is exact."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = embeddings.select("vec_id", vd.alias("embedding")).localCheckpoint(
        eager=True
    )
    n = corpus.count()
    c, m, ksub = 8, 16, 16
    q = corpus.filter(F.col("vec_id") % 97 == 0)
    cents = SIM.build_ivf_centroids(corpus, num_centroids=c).localCheckpoint(
        eager=True
    )
    books = SIM.pq_train(corpus, m=m, ksub=ksub, lloyd_steps=1).localCheckpoint(
        eager=True
    )
    index = SIM.ivf_pq_index(corpus, cents, books, m=m).localCheckpoint(
        eager=True
    )
    truth = {
        (r.query_id, r.corpus_id): (r.cos, r.rank)
        for r in SIM.brute_force_topk(corpus, q, k=5).collect()
    }
    got = {
        (r.query_id, r.corpus_id): (r.cos, r.rank)
        for r in SIM.ivf_pq_topk(
            q, cents, books, index, k=5, nprobe=c, m=m, rerank=corpus,
            shortlist=n,
        ).collect()
    }
    assert got.keys() == truth.keys()
    for key, (cos, rank) in truth.items():
        assert got[key][1] == rank, key
        assert abs(got[key][0] - cos) < 1e-9, key


def test_ivf_pq_recall_floor(embeddings):
    """Drift pin for the ann_ivf_pq gate configuration (C=16, nprobe=4,
    m=16, ksub=32, reranked): per-query hits against brute-force top-10
    measured at 8/10 minimum on this fixture — pin one notch under so
    real regressions (broken probe selection, codebook, LUT, rerank)
    fail while corpus-regeneration noise does not; the driver gate's
    own floor (5/10 at sf0.01) stays far below this."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = embeddings.select("vec_id", vd.alias("embedding")).localCheckpoint(
        eager=True
    )
    q = corpus.filter(F.col("vec_id") < 10)
    cents = SIM.build_ivf_centroids(corpus, num_centroids=16).localCheckpoint(
        eager=True
    )
    books = SIM.pq_train(corpus, m=16, ksub=32, lloyd_steps=1).localCheckpoint(
        eager=True
    )
    index = SIM.ivf_pq_index(corpus, cents, books, m=16).localCheckpoint(
        eager=True
    )
    truth = {
        (r.query_id, r.corpus_id)
        for r in SIM.brute_force_topk(corpus, q, k=10).collect()
    }
    got = {
        (r.query_id, r.corpus_id)
        for r in SIM.ivf_pq_topk(
            q, cents, books, index, k=10, nprobe=4, m=16, rerank=corpus
        ).collect()
    }
    per = {}
    for qq, c in got & truth:
        per[qq] = per.get(qq, 0) + 1
    assert min(per.values()) >= 7, sorted(per.items())
    assert sum(per.values()) >= 85, sorted(per.items())


def test_pq_guards_fail_loudly(spark, embeddings):
    """The round-8-advice guards: a subvector count that does not divide
    the dimension, or a codebook larger than the usable corpus, must
    raise at execution — never silently truncate dimensions or emit a
    short codebook."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = embeddings.limit(40).select("vec_id", vd.alias("embedding"))
    with pytest.raises(Exception, match="divisible by m"):
        SIM.pq_train(corpus, m=7, ksub=4, lloyd_steps=0).collect()
    with pytest.raises(Exception, match="usable"):
        SIM.pq_train(corpus.limit(3), m=8, ksub=16, lloyd_steps=0).collect()


def test_ivf_pq_stored_index_dpp(spark, embeddings, tmp_path):
    """The stored composite index's 100 TB story, plan-pinned: probing
    becomes DYNAMIC PARTITION PRUNING on disk — the per-query probe
    list broadcasts into the parquet scan's partition filter, so only
    the nprobe probed list_id partitions are read.  Also asserts the
    stored-index search returns the inline-index result exactly."""
    vd = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    corpus = embeddings.select("vec_id", vd.alias("embedding")).localCheckpoint(
        eager=True
    )
    q = corpus.filter(F.col("vec_id") < 5)
    cents = SIM.build_ivf_centroids(corpus, num_centroids=8).localCheckpoint(
        eager=True
    )
    books = SIM.pq_train(corpus, m=8, ksub=16, lloyd_steps=1).localCheckpoint(
        eager=True
    )
    inline = SIM.ivf_pq_index(corpus, cents, books, m=8).localCheckpoint(
        eager=True
    )
    path = str(tmp_path / "ivfpq")
    inline.write.mode("overwrite").partitionBy("list_id").parquet(path)
    stored = spark.read.parquet(path)
    out = SIM.ivf_pq_topk(q, cents, books, stored, k=5, nprobe=2, m=8)
    got = {(r.query_id, r.corpus_id, r.rank, r.cos) for r in out.collect()}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, "probe join must prune stored partitions"
    want = {
        (r.query_id, r.corpus_id, r.rank, r.cos)
        for r in SIM.ivf_pq_topk(
            q, cents, books, inline, k=5, nprobe=2, m=8
        ).collect()
    }
    assert got == want
