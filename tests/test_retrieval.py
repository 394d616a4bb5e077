"""BM25 retrieval: exactness vs an independent pure-Python reference,
ranking invariants, and two-phase == single-window equivalence."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
    bm25_scores,
    bm25_topk,
)
from tests.conftest import load

K1, B = 1.2, 0.75

_DOCS = [
    (1, "the fast join runs a fast scan"),
    (2, "slow merge  sort\twith a window"),  # whitespace runs collapse
    (3, "fast fast fast join join scan"),
    (4, "nothing relevant here at all"),
    (5, "join the window to the scan"),
]
_QUERIES = [(10, "fast"), (10, "join"), (20, "window"), (20, "scan")]


def _bm25_ref(docs, queries, k1=K1, b=B):
    """Independent reference: textbook BM25, per-doc Python floats."""
    toks = {i: t.lower().split() for i, t in docs}
    n = float(len(docs))
    avgdl = sum(len(v) for v in toks.values()) / n
    tf = {i: Counter(v) for i, v in toks.items()}
    qterms = {}
    for qid, term in queries:
        qterms.setdefault(qid, []).append(term)
    df = Counter()
    for term in {t for ts in qterms.values() for t in ts}:
        df[term] = sum(1 for i in toks if term in tf[i])
    out = {}
    for qid, ts in qterms.items():
        for i in toks:
            s = 0.0
            for term in ts:
                f = tf[i][term]
                if not f:
                    continue
                idf = math.log((n - df[term] + 0.5) / (df[term] + 0.5) + 1)
                s += idf * f * (k1 + 1) / (
                    f + k1 * (1 - b + b * len(toks[i]) / avgdl)
                )
            if s:
                out[(qid, i)] = s
    return out


@pytest.fixture(scope="module")
def frames(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    queries = spark.createDataFrame(_QUERIES, "query_id long, term string")
    return docs, queries


def test_bm25_scores_match_reference(spark, frames):
    docs, queries = frames
    got = {
        (r.query_id, r.doc_id): r.score
        for r in bm25_scores(docs, queries).collect()  # driver-ok: 5-doc fixture
    }
    want = _bm25_ref(_DOCS, _QUERIES)
    assert set(got) == set(want)
    for key, s in want.items():
        assert got[key] == pytest.approx(s, abs=1e-12), key


def test_bm25_only_matching_docs_emitted(spark, frames):
    docs, queries = frames
    rows = bm25_scores(docs, queries).collect()  # driver-ok: 5-doc fixture
    assert all(r.doc_id != 4 for r in rows)  # no query term in doc 4


def test_bm25_topk_rank_invariants(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_QUERIES, "query_id long, term string")
    rows = bm25_topk(docs, queries, k=7).collect()  # driver-ok: k x 2 rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        rs.sort(key=lambda r: r.rank)
        assert [r.rank for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 7
        # total order: (score DESC, doc_id ASC)
        keys = [(-r.score, r.doc_id) for r in rs]
        assert keys == sorted(keys), qid


def test_bm25_topk_materialize_twins_agree(spark, sf_dir):
    """The round-15 tf pin (one materialization shared by the dft
    derivation and the score join) must not change a single output row:
    the pinned form and the lazy twin emit identical (query, rank, doc,
    score) sets."""
    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_QUERIES, "query_id long, term string")
    key = lambda r: (r.query_id, r.rank, r.doc_id, r.score)  # noqa: E731
    pinned = sorted(
        map(key, bm25_topk(docs, queries, k=7).collect())  # driver-ok: k x 2
    )
    lazy = sorted(
        map(
            key,
            bm25_topk(
                docs, queries, k=7, materialize=False
            ).collect(),  # driver-ok: k x 2
        )
    )
    assert pinned == lazy and pinned


def test_bm25_topk_two_phase_matches_single_window(spark, sf_dir):
    """The two-phase TakeOrderedAndProject reuse must emit exactly the
    single-window formulation's rows."""
    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_QUERIES, "query_id long, term string")
    k = 9
    got = {
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in bm25_topk(docs, queries, k=k).collect()  # driver-ok: k x 2 rows
    }
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    naive = (
        bm25_scores(docs, queries)
        .withColumn("score", F.round("score", 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    want = {
        (r.query_id, r.rank, r.doc_id, r.score)
        for r in naive.collect()  # driver-ok: k x 2 rows
    }
    assert got == want


def test_indexed_matches_inline_and_prunes_partitions(spark, sf_dir, tmp_path):
    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        bm25_index_build,
        bm25_topk_indexed,
    )

    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_QUERIES, "query_id long, term string")
    idx = str(tmp_path / "idx")
    bm25_index_build(docs, idx, n_buckets=64)

    inline = bm25_topk(docs, queries, k=8)
    stored = bm25_topk_indexed(spark, idx, queries, k=8, n_buckets=64)
    key = lambda r: (r.query_id, r.rank, r.doc_id, r.score)  # noqa: E731
    assert sorted(map(key, stored.collect())) == sorted(  # driver-ok: k x 2 rows
        map(key, inline.collect())  # driver-ok: k x 2 rows
    )

    # the postings scan must PRUNE to the query terms' buckets: the
    # plan's toString truncates the scan line, so pin the pruning on the
    # FORMATTED explain, which renders PartitionFilters in full — a
    # non-empty tok_bucket IN (...) with <= 4 buckets of the 64
    import re

    jvm = spark._jvm
    es = stored._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    m = re.search(r"PartitionFilters: \[tok_bucket#\d+ IN \(([^)]*)\)", es)
    assert m, "postings scan lost its partition filter"
    assert 1 <= len(m.group(1).split(",")) <= 4


def test_index_build_writes_bounded_bucket_layout(spark, tmp_path):
    import os

    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        bm25_index_build,
    )

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    idx = str(tmp_path / "idx")
    bm25_index_build(docs, idx, n_buckets=8)
    parts = [
        d
        for d in os.listdir(os.path.join(idx, "postings"))
        if d.startswith("tok_bucket=")
    ]
    assert 0 < len(parts) <= 8
    # full-vocab df table: one row per distinct token across the corpus
    dft = spark.read.parquet(os.path.join(idx, "dft"))
    n_vocab = len({t for _, txt in _DOCS for t in txt.lower().split()})
    assert dft.count() == n_vocab


def test_rrf_fuse_invariants(spark, sf_dir):
    """RRF contract on the fixture corpus: the fused list only contains
    docs from the input lists; a doc present in BOTH legs outranks a
    doc with the same single-leg rank appearing in one; scores equal
    sum(1/(c+rank)) recomputed from the legs."""
    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        hashed_cosine_topk,
        rrf_fuse,
    )

    docs = load(spark, sf_dir, "documents")
    queries = spark.createDataFrame(_QUERIES, "query_id long, term string")
    lex = bm25_topk(docs, queries, k=15)
    den = hashed_cosine_topk(docs, queries, k=15)
    fused = rrf_fuse([lex, den], k=10, c=60)

    lex_r = {(r.query_id, r.doc_id): r.rank for r in lex.collect()}  # driver-ok: k x 2
    den_r = {(r.query_id, r.doc_id): r.rank for r in den.collect()}  # driver-ok: k x 2
    out = fused.collect()  # driver-ok: k x 2 rows
    assert out, "fused list empty"
    for r in out:
        key = (r.query_id, r.doc_id)
        assert key in lex_r or key in den_r
        want = sum(
            1.0 / (60 + m[key]) for m in (lex_r, den_r) if key in m
        )
        assert r.score == pytest.approx(round(want, 6), abs=1e-9)
    # at least one fused winner should be a both-legs doc on this corpus
    assert any(
        (r.query_id, r.doc_id) in lex_r and (r.query_id, r.doc_id) in den_r
        for r in out
    )


def test_bm25_matches_reference_on_random_corpora(spark):
    """Seeded random corpora (Zipf-ish vocab, empty docs, repeated
    terms, queries mixing present/absent terms): bm25_scores must equal
    the pure-Python reference to 1e-12 on every (query, doc)."""
    import random

    vocab = [f"w{i}" for i in range(12)]
    for seed in (0, 1, 2):
        rng = random.Random(seed)
        docs = [
            (
                i,
                " ".join(
                    # Zipf-ish: low-index words much more frequent
                    vocab[min(int(rng.paretovariate(1.0)) - 1, 11)]
                    for _ in range(rng.randrange(0, 25))
                ),
            )
            for i in range(30)
        ]
        queries = [
            (qid, term)
            for qid in (1, 2)
            for term in rng.sample(vocab + ["absent_term"], 3)
        ]
        sdocs = spark.createDataFrame(docs, "doc_id long, text string")
        sq = spark.createDataFrame(queries, "query_id long, term string")
        got = {
            (r.query_id, r.doc_id): r.score
            for r in bm25_scores(sdocs, sq).collect()  # driver-ok: 30-doc fixture
        }
        want = _bm25_ref(docs, queries)
        assert set(got) == set(want), seed
        for key, s in want.items():
            assert got[key] == pytest.approx(s, abs=1e-12), (seed, key)


def test_bm25_indexed_stable_index_not_reused_across_sample_mod(spark):
    """The once-per-interpreter postings index is keyed on the
    MIDAS_SAMPLE_MOD scoping: a sampled run first must not leave a
    sampled index behind for the unsampled run (the BPE merge-cache
    bug class)."""
    import os

    from applications_analytics_midas_hbase_metrics_spark.plans.queries import (
        EXTRA_QUERIES,
    )
    import applications_analytics_midas_hbase_metrics_spark.plans.queries_features  # noqa: F401
    from tests.conftest import SF_SMOKE

    prev = os.environ.get("MIDAS_SAMPLE_MOD")
    try:
        os.environ["MIDAS_SAMPLE_MOD"] = "10"
        sampled = EXTRA_QUERIES["bm25_indexed"](spark, SF_SMOKE).collect()  # driver-ok: 50 rows
        assert sampled and all(r.doc_id % 10 == 0 for r in sampled)
        os.environ.pop("MIDAS_SAMPLE_MOD")
        full = EXTRA_QUERIES["bm25_indexed"](spark, SF_SMOKE).collect()  # driver-ok: 50 rows
        # a stale sampled index can only surface %10==0 docs; the full
        # corpus ranking must include others
        assert any(r.doc_id % 10 != 0 for r in full)
    finally:
        if prev is None:
            os.environ.pop("MIDAS_SAMPLE_MOD", None)
        else:
            os.environ["MIDAS_SAMPLE_MOD"] = prev


def test_trigram_search_matches_contains_truth(spark):
    """Index result == plain contains() scan for every k_grams: the
    selection is pruning only."""
    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        trigram_substring_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "beta delta"),
            (3, "GAMMA rays and alpha particles"),
            (4, "nothing relevant"),
        ],
        "doc_id bigint, text string",
    )
    qs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma ray"), (3, "xyz")],
        "qid bigint, q string",
    )
    truth = {
        (qi, di)
        for di, txt in [(r.doc_id, r.text.lower()) for r in docs.collect()]
        for qi, qq in [(r.qid, r.q.lower()) for r in qs.collect()]
        if qq in txt
    }
    for k in (1, 2, 8):
        got = {
            (r.qid, r.doc_id)
            for r in trigram_substring_search(docs, qs, k_grams=k).collect()
        }
        assert got == truth, k
        # the 8-byte hashed-gram production keys select a possibly
        # DIFFERENT rarest-gram set (hash tiebreak) but the verified
        # result is the same contains truth — exactness never rests
        # on the gram key
        got_h = {
            (r.qid, r.doc_id)
            for r in trigram_substring_search(
                docs, qs, k_grams=k, gram_key="xxhash64"
            ).collect()
        }
        assert got_h == truth, k
    with pytest.raises(ValueError):
        trigram_substring_search(docs, qs, gram_key="md5")


def test_trigram_indexed_hashed_grams_identical(spark, tmp_path):
    """A gram_key='xxhash64' index (8-byte postings) searched with the
    matching flag reproduces the text-keyed result exactly."""
    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        trigram_index_build,
        trigram_search_indexed,
        trigram_substring_search,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "beta delta"),
            (3, "GAMMA rays and alpha particles"),
            (4, "nothing relevant"),
        ],
        "doc_id bigint, text string",
    )
    qs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma ray"), (3, "xyz")],
        "qid bigint, q string",
    )
    idx = str(tmp_path / "idxh")
    trigram_index_build(docs, idx, n_buckets=8, gram_key="xxhash64")
    got = {
        (r.qid, r.doc_id)
        for r in trigram_search_indexed(
            spark, idx, qs, docs, k_grams=4, n_buckets=8, gram_key="xxhash64"
        ).collect()
    }
    want = {
        (r.qid, r.doc_id)
        for r in trigram_substring_search(docs, qs, k_grams=4).collect()
    }
    assert got == want
    # stored postings are fixed-width bigints, not strings
    post = spark.read.parquet(f"{idx}/postings")
    assert dict(post.dtypes)["g"] == "bigint"


def test_trigram_search_short_query_fails_loudly(spark):
    from py4j.protocol import Py4JJavaError

    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        trigram_substring_search,
    )

    docs = spark.createDataFrame([(1, "abc")], "doc_id bigint, text string")
    qs = spark.createDataFrame([(0, "ab")], "qid bigint, q string")
    with pytest.raises(Exception) as ei:
        trigram_substring_search(docs, qs).collect()
    assert "trigram query shorter" in str(ei.value)


def test_trigram_indexed_identical_to_inline(spark, tmp_path):
    """Stored-index search returns exactly the inline result (and the
    contains truth) on a corpus with hot and rare grams."""
    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        trigram_index_build,
        trigram_search_indexed,
        trigram_substring_search,
    )

    docs = spark.createDataFrame(
        [(i, f"common filler text block {i % 7} rare{'x' * (i % 3)}")
         for i in range(40)],
        "doc_id bigint, text string",
    )
    qs = spark.createDataFrame(
        [(0, "filler"), (1, "rarexx"), (2, "block 3"), (3, "absent-gram")],
        "qid bigint, q string",
    )
    idx = str(tmp_path / "idx")
    trigram_index_build(docs, idx, n_buckets=16)
    inline = {
        (r.qid, r.doc_id)
        for r in trigram_substring_search(docs, qs, k_grams=4).collect()
    }
    stored = {
        (r.qid, r.doc_id)
        for r in trigram_search_indexed(
            spark, idx, qs, docs, k_grams=4, n_buckets=16
        ).collect()
    }
    assert stored == inline
    truth = {
        (qi, di)
        for di, txt in [(r.doc_id, r.text.lower()) for r in docs.collect()]
        for qi, qq in [(r.qid, r.q.lower()) for r in qs.collect()]
        if qq in txt
    }
    assert stored == truth


def test_char_trigrams_short_strings_emit_nothing(spark):
    """Spark's sequence(1, 0) is DESCENDING ([1, 0]), so pre-fix a
    2-char string emitted two bogus sub-3-char 'grams' (and '' an empty
    gram) that persisted junk postings/gram_df rows.  Every emitted
    gram must now be exactly 3 chars; strings shorter than 3 emit an
    empty array."""
    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        _char_trigrams,
    )

    df = spark.createDataFrame(
        [("",), ("a",), ("ab",), ("abc",), ("abcd",)], "t string"
    )
    got = {r.t: r.g for r in df.select("t", _char_trigrams("t").alias("g")).collect()}
    assert got[""] == []
    assert got["a"] == []
    assert got["ab"] == []
    assert got["abc"] == ["abc"]
    assert sorted(got["abcd"]) == ["abc", "bcd"]


def test_trigram_search_exact_under_replayed_append(spark, tmp_path):
    """An at-least-once replay re-appends a batch's postings and
    partial dfs; the distinct-count intersection and summed-df
    selection must leave the result set exactly the contains truth."""
    import os

    from pyspark.sql import functions as F

    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        _char_trigrams,
        _norm_docs_text,
        trigram_index_build,
        trigram_search_indexed,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma"), (3, "delta alpha")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "idx")
    trigram_index_build(docs, idx, n_buckets=8)
    # replay: re-append doc 2's postings and partial dfs a second time
    dup = _norm_docs_text(docs.filter(F.col("doc_id") == 2), "doc_id", "text")
    dg = dup.select("doc_id", F.explode(_char_trigrams("t")).alias("g"))
    dg.withColumn("g_bucket", F.pmod(F.xxhash64("g"), F.lit(8))).write.mode(
        "append"
    ).partitionBy("g_bucket").parquet(os.path.join(idx, "postings"))
    dg.groupBy("g").agg(F.count(F.lit(1)).alias("df")).write.mode(
        "append"
    ).parquet(os.path.join(idx, "gram_df"))
    qs = spark.createDataFrame(
        [(0, "alpha"), (1, "beta"), (2, "gamma")], "qid bigint, q string"
    )
    got = {
        (r.qid, r.doc_id)
        for r in trigram_search_indexed(spark, idx, qs, docs, k_grams=4,
                                        n_buckets=8).collect()
    }
    assert got == {(0, 1), (0, 3), (1, 1), (1, 2), (2, 2)}


def test_trigram_search_randomized_vs_contains_truth(spark):
    """Seeded random corpora over a tiny alphabet (dense trigram
    collisions, repeated substrings, punctuation and spaces) — the
    index must equal the Python contains truth on every (query, doc)
    pair, at several k_grams."""
    import random

    from applications_analytics_midas_hbase_metrics_spark.operators.retrieval import (
        trigram_substring_search,
    )

    rng = random.Random(42)
    alphabet = "ab c.!"
    docs = [
        (i, "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 40))))
        for i in range(60)
    ]
    queries = [
        (qi, "".join(rng.choice(alphabet) for _ in range(rng.randint(3, 7))))
        for qi in range(12)
    ]
    ddf = spark.createDataFrame(docs, "doc_id bigint, text string")
    qdf = spark.createDataFrame(queries, "qid bigint, q string")
    truth = {
        (qi, di)
        for di, txt in docs
        for qi, qq in queries
        if qq.lower() in txt.lower()
    }
    for k in (2, 4):
        got = {
            (r.qid, r.doc_id)
            for r in trigram_substring_search(ddf, qdf, k_grams=k).collect()
        }
        assert got == truth, k
