"""One scale harness: time a package operator on factor-k replicas of a
fixture table, and check at every factor that its result stays exact.

The fixture tables cap at sf0.1 (5,000 documents, 2,000 vectors), which
hides how operators grow.  A spec replicates a base table k times with
id offsets, times one package call on it, and asserts the invariant
that makes the timing mean something: BFS rows exactly k times the
base, the same checksum from the shipped and the reference shape, the
same pair set from the pruned and the brute-force search.

A spec is three functions:

* ``corpus(c)`` builds the factor-``c.k`` input (untimed);
* ``run(c, inp)`` makes the package calls and returns their result
  values, sub-timings included;
* ``check(vals, base)`` asserts the exactness invariant; ``base`` is
  ``(k0, vals0)`` of the first factor run, for the linearity checks.

The driver owns the rest: this checkout's package on ``sys.path``, the
session (cores from ``SPARK_GRAFT_CPUS``, else ``os.cpu_count()``), the
fixture directory (``SF_DIR``, default sf0.1), a scratch directory per
factor under ``RUNG_DIR`` (default: the system temp directory), the
factor loop with each factor inside ``pinning.scope()`` so its pins are
released before the next factor, timing, and one JSON line per
(spec, factor) on stdout.

Synthetic sizes scale with the fixture: ``n_docs`` below is the row
count of ``documents.parquet`` (5,000 at sf0.1).  SCALE.md records each
spec's findings under a section that names it.

Usage: python tools/scalecheck.py <spec> [factors ...]
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import tempfile
import threading
import time
from dataclasses import dataclass
from typing import Any, Callable

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402

from applications_analytics_midas_hbase_metrics_spark.operators import (  # noqa: E402
    classify as CL,
    dedup as D,
    fuzzy as FZ,
    graph as G,
    lines as L,
    multimodal as MM,
    pinning,
    retrieval as R,
    sampling as S,
    similarity as SIM,
    text as T,
)
from applications_analytics_midas_hbase_metrics_spark.plans import (  # noqa: E402
    queries_curation as QC,
    queries_features as QF,
)
from applications_analytics_midas_hbase_metrics_spark.session import (  # noqa: E402
    get_spark,
    scoped_shuffle_partitions,
    scoped_sql_confs,
)
from applications_analytics_midas_hbase_metrics_spark.streaming import (  # noqa: E402
    dedup_stream as DS,
)
from applications_analytics_midas_hbase_metrics_spark.streaming.join_stream import (  # noqa: E402
    stream_interval_join,
)

SF_DIR = os.environ.get("SF_DIR", "/root/testdata/sf0.1")


@dataclass(frozen=True)
class Spec:
    """One scale harness (module docstring)."""

    corpus: Callable[[Ctx], Any]
    run: Callable[[Ctx, Any], dict]
    check: Callable[[dict, tuple[int, dict]], None]


@dataclass(frozen=True)
class Ctx:
    """One factor's run: the session, the fixture directory, the factor
    and a scratch directory the driver removes after the factor."""

    spark: Any
    sf: str
    k: int
    tmp: str

    def read(self, table: str):
        return self.spark.read.parquet(f"{self.sf}/{table}.parquet")

    @property
    def n_docs(self) -> int:
        return self.read("documents").count()

    @property
    def par(self) -> int:
        return self.spark.sparkContext.defaultParallelism

    def pin(self, df, label: str):
        return pinning.pin(df, f"scalecheck:{label}")

    def reps(self, df, **cols):
        """``df`` crossed with ``rep`` = 0..k-1, projected to ``cols``
        (columns over df's and ``rep``)."""
        reps = self.spark.range(self.k).select(F.col("id").alias("rep"))
        return df.crossJoin(reps).select(
            *[(F.col(c) if isinstance(c, str) else c).alias(n) for n, c in cols.items()]
        )


def timed(fn, *args, **kw):
    t0 = time.monotonic()
    out = fn(*args, **kw)
    return out, round(time.monotonic() - t0, 2)


def exchanges(df) -> int:
    """Materialized shuffle boundaries in df's executed plan: not
    broadcasts, not ReusedExchange references."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        ln.count("Exchange") - ln.count("BroadcastExchange") - ln.count("ReusedExchange")
        for ln in plan.splitlines()
    )


def checksum(df, cols) -> list[int]:
    row = df.select(
        F.bit_xor(F.xxhash64(*cols)).alias("c"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    return [row.c, row.n]


def linear(*keys):
    """Check: each of ``keys`` grows exactly with the factor."""

    def check(vals, base):
        k0, v0 = base
        for key in keys:
            assert vals[key] * k0 == v0[key] * vals["factor"], (key, vals[key], v0[key])

    return check


def _docs(c, *cols):
    return c.read("documents").select(*(cols or ("doc_id", "text")))


def _max_id(df, col="doc_id") -> int:
    return df.groupBy().agg(F.max(col)).first()[0] + 1  # driver-ok: one row


# -- dedup: exact dedup, minhash LSH pairs, connected components ------------
# Exact dedup grows linearly; the LSH pair count grows superlinearly (every
# replica pairs with every other), so the per-pair cost is the claim.


def dedup_corpus(c):
    docs = c.reps(_docs(c), doc_id=F.col("doc_id") + F.col("rep") * 1_000_000, text="text")
    return c.pin(docs.repartition(c.par), "dedup")


def dedup_run(c, corpus):
    n_exact, t_exact = timed(lambda: D.exact_duplicates(corpus).count())
    pairs, t_pairs = timed(
        D.minhash_near_duplicates, corpus, num_hashes=64, threshold=0.5, materialize=True
    )
    n_pairs, t_count = timed(pairs.count)
    n_nodes, t_cc = timed(lambda: G.connected_components(pairs).count())
    return {
        "n_docs": corpus.count(), "n_exact": n_exact, "n_pairs": n_pairs,
        "n_nodes": n_nodes, "exact_sec": t_exact, "pairs_sec": t_pairs + t_count,
        "cc_sec": t_cc,
    }


# -- bfs: k disjoint copies of the supplier<->part graph ---------------------
# Result rows are exactly k times the base; supersteps stay constant.

_GRAPH_OFFSET = 10_000_000


def _sp_edges(li):
    fwd = li.select(
        F.col("l_suppkey").cast("bigint").alias("src"),
        (F.col("l_partkey") + 1_000_000).cast("bigint").alias("dst"),
    )
    return fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def bfs_corpus(c):
    e1 = _sp_edges(c.read("lineitem").filter(F.col("l_quantity") < 5))
    off = F.col("rep") * _GRAPH_OFFSET
    e = c.reps(e1, src=F.col("src") + off, dst=F.col("dst") + off)
    sup = c.read("supplier").filter(F.col("s_suppkey") % 17 == 0)
    seeds = c.reps(sup, node=F.col("s_suppkey") + off)
    return c.pin(e.repartition(c.par), "bfs_edges"), c.pin(seeds, "bfs_seeds")


def bfs_run(c, inp):
    e, seeds = inp
    return {
        "n_edges": e.count(),
        "rows": G.bfs_distances(e, seeds, max_hops=4).count(),
    }


# -- pagerank: fixed-iteration run on k disjoint graph copies ----------------
# One key-partitioned join + one combined aggregate per round: linear in |E|.


def pagerank_corpus(c):
    base = _sp_edges(c.read("lineitem")).distinct()
    off = F.col("rep") * _GRAPH_OFFSET
    e = c.reps(base, src=F.col("src") + off, dst=F.col("dst") + off)
    return c.pin(e.repartition(c.par), "pagerank_edges")


def pagerank_run(c, e):
    out = G.pagerank(e, n_iter=5, checkpoint_every=3)
    n_nodes = out.count()
    rank_sum = out.agg(F.sum("rank")).collect()[0][0]  # driver-ok: 1 row
    return {"n_edges": e.count(), "n_nodes": n_nodes, "rank_sum": round(rank_sum, 6)}


# -- snapshot: the gated corpus_snapshot chain end to end --------------------
# quality filter -> exact dedup -> 80/10/10 split -> per-split packing.  A
# replica-unique suffix keeps replicas out of each other's exact-dup groups.


def snapshot_corpus(c):
    docs = c.reps(
        _docs(c),
        doc_id=F.col("doc_id") + F.col("rep") * 1_000_000,
        text=F.concat("text", F.lit(" r"), F.col("rep")),
    )
    return c.pin(docs.repartition(c.par), "snapshot")


def snapshot_run(c, corpus):
    rows = QC.corpus_snapshot_frame(corpus).collect()
    return {
        "n_docs": corpus.count(),
        "splits": {r.split: [r.n_docs, r.n_tokens, r.n_packs] for r in rows},
    }


def snapshot_check(vals, base):
    linear("n_docs")(vals, base)
    assert 0 < sum(v[0] for v in vals["splits"].values()) <= vals["n_docs"], vals


# -- qsnap: quality_sharded_snapshot end to end ------------------------------
# NB score -> per-source rank -> rank^2 keep -> exact dedup -> 8 shards ->
# manifest; kept fraction near the rank^2 sampler's 1/3, shards balanced.


def qsnap_corpus(c):
    base = _docs(c, "doc_id", "text", "source")
    n0 = _max_id(base)
    docs = c.reps(
        base,
        doc_id=F.col("doc_id") + F.col("rep") * n0,
        text=F.when(F.col("rep") == 0, F.col("text")).otherwise(
            F.concat("text", F.lit(" rep"), F.col("rep").cast("string"))
        ),
        source="source",
    ).withColumn("label", (F.col("source") == "src0").cast("int"))
    return c.pin(docs.repartition(c.par), "qsnap")


def qsnap_run(c, docs):
    n_docs = docs.count()
    model, t_train = timed(
        c.pin, CL.nb_quality_train(docs.filter(S.fibonacci_bucket("doc_id") < 80)), "qsnap_model"
    )
    manifest, t_chain = timed(lambda: QC.quality_sharded_snapshot_frame(docs, model).collect())
    sizes = sorted(r.n_docs for r in manifest)
    return {
        "n_docs": n_docs, "n_kept": sum(sizes), "kept_frac": round(sum(sizes) / n_docs, 3),
        "shard_min_max": [sizes[0], sizes[-1]], "train_sec": t_train, "chain_sec": t_chain,
    }


def qsnap_check(vals, base):
    linear("n_docs")(vals, base)
    assert 0 < vals["n_kept"] <= vals["n_docs"], vals


# -- ivf: codebook growth does not multiply exchanges ------------------------
# The codebook rides every stage as a broadcast, so a bigger C changes
# per-row compute, never the shuffle structure of the search.


def ivf_corpus(c):
    emb = c.read("embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    corpus = c.pin(SIM.replicate_embeddings(emb, c.k).repartition(c.par), "ivf_corpus")
    return corpus, corpus.filter(F.col("vec_id") % 40 == 0)


def ivf_run(c, inp):
    corpus, queries = inp
    configs = []
    for n_c, nprobe in ((16, 4), (64, 8), (256, 16)):
        cents, t_book = timed(
            c.pin, SIM.build_ivf_centroids(corpus, num_centroids=n_c, lloyd_steps=1), "ivf_cents"
        )
        # index: the query-independent |corpus| x C assignment a deployment
        # persists once per snapshot; the search is the recurring cost
        index, t_index = timed(c.pin, SIM.ivf_index(corpus, cents), "ivf_index")
        topk = SIM.ivf_topk(corpus, queries, cents, k=10, nprobe=nprobe, index=index)
        n_out, t_search = timed(topk.count)
        configs.append({
            "C": n_c, "nprobe": nprobe, "codebook_sec": t_book, "index_sec": t_index,
            "search_sec": t_search, "search_exchanges": exchanges(topk), "n_out": n_out,
        })
    return {"n_vecs": corpus.count(), "configs": configs}


def ivf_check(vals, base):
    linear("n_vecs")(vals, base)
    assert len({cf["search_exchanges"] for cf in vals["configs"]}) == 1, vals


# -- shard_rank: two-phase ranks under a 90%-hot group -----------------------
# shuffle_shards (8 shards), stratified_percent_rank (one 90% stratum),
# token_budget_mixture (one 90% budgeted source), quality_representatives
# (one 90% cluster): bit-identical to the single-window shape they replace,
# every full-row row_number window partitioned by the range bucket _tp_b.


def _windows_bounded(df) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    specs = re.findall(r"row_number\(\).*?windowspecdefinition\(([^)]*)\)", plan)
    return all("_tp_b" in s for s in specs)


def _mix_hash(prime):
    dom = F.lit(S._MIX_DOMAIN)
    return F.pmod(F.pmod(F.col("doc_id").cast("bigint"), dom) * F.lit(prime), dom)


def shard_rank_corpus(c):
    d = c.reps(_docs(c), doc_id=F.col("doc_id") * c.k + F.col("rep"), text="text")
    hot = F.col("doc_id") % 10 < 9
    docs = d.select(
        "doc_id",
        "text",
        F.when(hot, F.lit("megasource"))
        .otherwise(F.concat(F.lit("s"), (F.col("doc_id") % 7).cast("string")))
        .alias("source"),
        F.round((F.col("doc_id") * 2654435761 % 1000003) / 1000003.0, 9).alias("score"),
    )
    return c.pin(docs.repartition(c.par), "shard_rank")


def shard_rank_run(c, docs):
    rows_in = docs.count()
    out = {"rows": rows_in, "bounded": True}

    def both(name, new, old, cols):
        out[name], out[f"{name}_sec"] = timed(checksum, new, cols)
        out[f"{name}_window"], out[f"{name}_window_sec"] = timed(checksum, old, cols)

    # shuffle_shards vs the per-shard row_number window
    sh = S.shuffle_shards(docs, n_shards=8)
    old = docs.withColumn("_h", _mix_hash(S._SHARD_PRIME)).withColumn(
        "shard", F.floor(F.col("_h") * 8 / F.lit(S._MIX_DOMAIN)).cast("int")
    )
    old = old.withColumn(
        "pos", F.row_number().over(Window.partitionBy("shard").orderBy("_h", "doc_id")).cast("bigint")
    )
    both("shards", sh, old, ["doc_id", "shard", "pos"])

    # stratified_percent_rank vs the per-stratum percent_rank window
    pr = S.stratified_percent_rank(docs, "source", "score", "doc_id")
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    old = docs.withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
    both("pct_rank", pr, old, ["doc_id", "pct_rank"])

    # token_budget_mixture vs the per-source running-sum window
    bdocs = docs.withColumn("n_tokens", (F.col("doc_id") % 37 + 1).cast("bigint"))
    budgets = {"megasource": rows_in * 2, "s1": rows_in, "s3": 50}
    tb = S.token_budget_mixture(bdocs, budgets, weight_col="n_tokens")
    bmap = F.create_map(*[F.lit(x) for kv in budgets.items() for x in kv])
    w = (
        Window.partitionBy("source").orderBy("_h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    old = (
        bdocs.withColumn("_b", bmap[F.col("source")])
        .filter(F.col("_b").isNotNull())
        .withColumn("_h", _mix_hash(S._BUDGET_PRIME))
        .withColumn("cum_tokens", F.sum(F.col("n_tokens").cast("bigint")).over(w))
        .filter(F.col("cum_tokens") <= F.col("_b"))
    )
    both("token_budget", tb, old, ["doc_id", "cum_tokens"])
    out["bounded"] = all(_windows_bounded(df) for df in (sh, pr, tb))

    # quality_representatives vs the per-cluster argmax window
    comps = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("source") == "megasource", F.lit(1))
        .otherwise(F.col("doc_id")).cast("bigint").alias("cluster_id"),
    )
    scored = docs.select(F.col("doc_id").alias("id"), F.col("score").alias("q"))
    qr = G.quality_representatives(scored, comps, score_col="q")
    wq = Window.partitionBy("cluster_id").orderBy(F.col("q").desc(), F.col("id"))
    old = (
        scored.join(comps, "id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("id")))
        .select("id", "cluster_id", (F.row_number().over(wq) == 1).cast("bigint").alias("keep"))
    )
    both("representatives", qr, old, ["id", "cluster_id", "keep"])
    out["representatives_window_free"] = (
        "Window" not in qr._jdf.queryExecution().executedPlan().toString()
    )
    return out


def shard_rank_check(vals, base):
    for name in ("shards", "pct_rank", "token_budget", "representatives"):
        assert vals[name] == vals[f"{name}_window"], (name, vals)
    assert vals["bounded"] and vals["representatives_window_free"], vals


# -- fuzzy: deletion-neighborhood pairs vs brute force -----------------------
# n_docs*k pseudo-random 8-hex terms plus 1% single-deletion typos (the same
# pair set as the levenshtein cross join, which runs up to 20,000 terms);
# then a dense length-4 base-26 vocabulary of 10*n_docs*k terms, where
# deletion variants are shared by dozens of terms: positional keys must
# enumerate the same pairs as plain ones.

_BRUTE_MAX = 20_000


def fuzzy_corpus(c):
    n = c.n_docs * c.k
    term = F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 8)
    typos = c.spark.range(0, n, 100).select(term.alias("t")).select(
        F.concat(F.expr("substring(t, 1, 3)"), F.expr("substring(t, 5)")).alias("term")
    )
    vocab = c.spark.range(n).select(term.alias("term")).unionByName(typos)
    short = c.spark.range(10 * n).select(
        (F.xxhash64(F.col("id").cast("string")) % 456_976).alias("h")
    ).select(
        F.array_join(
            F.expr(
                "transform(sequence(0, 3), i -> substring('abcdefghijklmnopqrstuvwxyz',"
                " int(abs(h) / power(26, i)) % 26 + 1, 1))"
            ),
            "",
        ).alias("term")
    )
    return n, c.pin(vocab, "fuzzy_vocab"), c.pin(short, "fuzzy_short")


def fuzzy_run(c, inp):
    n, vocab, short = inp
    out = {"n_terms": vocab.distinct().count(), "brute_pairs": None}
    out["pairs"], out["neighborhood_sec"] = timed(lambda: FZ.fuzzy_pairs(vocab).count())
    if n <= _BRUTE_MAX:
        v = vocab.select("term").filter(F.length("term") > 0).distinct()
        brute = v.alias("l").join(v.alias("r"), F.col("l.term") < F.col("r.term")).filter(
            F.levenshtein("l.term", "r.term") == 1
        )
        out["brute_pairs"], out["brute_sec"] = timed(brute.count)
    out["short_terms"] = short.distinct().count()
    out["short_pairs"], out["plain_sec"] = timed(lambda: FZ.fuzzy_pairs(short).count())
    out["short_pairs_positional"], out["positional_sec"] = timed(
        lambda: FZ.fuzzy_pairs(short, position_keys=True).count()
    )
    return out


def fuzzy_check(vals, base):
    assert vals["brute_pairs"] in (None, vals["pairs"]), vals
    assert vals["short_pairs"] == vals["short_pairs_positional"], vals


# -- substr: exact substring dedup, k-token shingles -------------------------
# Shuffle rows track shingles, never document pairs; the xxhash64 and
# two-phase keys mark the identical spans; a fixed batch cut against the
# persisted history keys cuts what the full-union rebuild cuts.  Replica
# tokens carry a replica suffix, so replicas share no shingles.

_K = 20


def _token_reps(c, base):
    if c.k == 1:
        return base
    return c.reps(
        base,
        doc_id=F.col("doc_id") * c.k + F.col("rep"),
        text=F.expr("array_join(transform(split(text, '\\\\s+'), t -> concat(t, '_', rep)), ' ')"),
    )


def substr_corpus(c):
    docs = c.pin(_token_reps(c, _docs(c)), "substr_docs")
    return docs, c.pin(QC._substr_batch(c.spark, c.sf), "substr_batch")


def substr_run(c, inp):
    docs, batch = inp
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    out = {
        "shingle_rows": docs.select(F.greatest(n_tok - (_K - 1), F.lit(0)).alias("n"))
        .agg(F.sum("n")).first()[0],
        "detect_exchanges": exchanges(T.exact_substring_spans(docs, k=_K)),
    }
    for name, kw in (("exact", {}), ("xxhash64", {"key_fn": "xxhash64"}), ("two_phase", {"two_phase": True})):
        agg = T.exact_substring_dedup(docs, k=_K, **kw).agg(
            F.count(F.lit(1)), F.sum((F.col("n_spans") > 0).cast("int")), F.sum("cut_chars")
        )
        (n, touched, cut), out[f"{name}_sec"] = timed(agg.first)
        out["n_docs"], out[name] = n, [touched, cut]
    # incremental cut of a fixed batch against the history's key store vs
    # the full-union rebuild
    keys, out["store_sec"] = timed(
        c.pin, T.substring_shingle_keys(docs, k=_K, key_fn="xxhash64"), "substr_keys"
    )
    out["store_keys"] = keys.count()
    inc = T.exact_substring_dedup_incremental(batch, keys, k=_K, key_fn="xxhash64")
    out["inc_cut"], out["incremental_sec"] = timed(lambda: inc.agg(F.sum("cut_chars")).first()[0])
    full = T.exact_substring_dedup(docs.unionByName(batch), k=_K, key_fn="xxhash64")
    out["full_cut"], out["full_sec"] = timed(
        lambda: full.filter(F.col("id") >= 1_000_000).agg(F.sum("cut_chars")).first()[0]
    )
    return out


def substr_check(vals, base):
    assert vals["exact"] == vals["xxhash64"] == vals["two_phase"], vals
    assert vals["inc_cut"] == vals["full_cut"], vals


# -- lines: boilerplate-line removal and the hot-document battery ------------
# The boilerplate dictionary stays small and constant; hashed line keys
# remove the same lines.  A document repeating one line 20*n_docs*k times
# is absorbed map-side by the partial-aggregating groupBy.


def lines_corpus(c):
    docs = _docs(c, "doc_id", "source", "lang", "text")
    if c.k > 1:
        # tag both ends: each half-line below must differ per replica, or
        # every body line crosses min_doc_freq and all of it is stripped
        docs = c.reps(
            docs,
            doc_id=F.col("doc_id") * c.k + F.col("rep"),
            source="source",
            lang="lang",
            text=F.concat(F.lit("r"), F.col("rep"), F.lit(" "), "text", F.lit(" r"), F.col("rep")),
        )
    staged = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.lit("=== "), F.col("source"), F.lit(" ===")),
            F.expr("substring(text, 1, length(text) div 2)"),
            F.concat(F.lit("lang: "), F.col("lang")),
            F.expr("substring(text, length(text) div 2 + 1, length(text))"),
            F.lit("--- corpus footer ---"),
        ).alias("text"),
    )
    n_hot = 20 * c.n_docs * c.k
    # pinned, so the constant-folded n-element array never rides the
    # measured stages' task binaries
    hot = c.spark.range(1).select(
        F.lit(0).cast("bigint").alias("doc_id"),
        F.array_join(F.array_repeat(F.lit("the same boilerplate line"), n_hot), "\n").alias("text"),
    )
    mixed = c.pin(hot, "lines_hot").unionByName(
        _docs(c).select((F.col("doc_id") + 1).alias("doc_id"), "text")
    ).repartition(c.par)
    return c.pin(staged, "lines_staged"), n_hot, mixed


def lines_run(c, inp):
    staged, n_hot, mixed = inp
    out = {"dict_lines": L.boilerplate_lines(staged, min_doc_freq=5).count()}
    for name, kw in (("raw", {}), ("hashed", {"hash_lines": True})):
        agg = L.strip_boilerplate(staged, min_doc_freq=5, **kw).agg(
            F.count(F.lit(1)), F.sum("n_removed")
        )
        row, out[f"{name}_sec"] = timed(agg.first)
        out[name] = list(row)
    row, out["hot_sec"] = timed(
        lambda: L.line_repetition_features(mixed).filter(F.col("id") == 0).first()
    )
    out.update(hot_lines=n_hot, n_lines=row["n_lines"], dup_line_frac=row["dup_line_frac"])
    return out


def lines_check(vals, base):
    assert vals["raw"] == vals["hashed"], vals
    # Spark rounds half up, Python half to even: a tolerance, not equality
    n = vals["hot_lines"]
    assert vals["n_lines"] == n and abs(vals["dup_line_frac"] - (1 - 1 / n)) < 2e-6, vals


# -- stream_dedup: per-micro-batch cost as the signature store grows --------
# The store is seeded with the fixture corpus; k batches stream in (half
# exact copies, half 70% prefixes of history).  Then the append-grown store
# is compacted, and a probe batch must get the same verdicts before and
# after.


def stream_dedup_corpus(c):
    n_batches = c.k
    docs = _docs(c)
    toks = D.tokens("text")
    prefix = F.array_join(F.slice(toks, 1, F.ceil(F.size(toks) * 0.7).cast("int")), " ")
    src = os.path.join(c.tmp, "src")
    for b in range(n_batches):
        batch = docs.filter(F.col("doc_id") % n_batches == b).select(
            (F.col("doc_id") + 1_000_000 * (b + 1)).alias("doc_id"), "text"
        ).union(
            docs.filter(F.col("doc_id") % n_batches == (b + 1) % n_batches).select(
                (F.col("doc_id") + 10_000_000 * (b + 1)).alias("doc_id"), prefix.alias("text")
            )
        )
        _write_one_file(batch, src, b)
    return n_batches, docs, src


def _write_one_file(df, src_dir, i, mtime=1_000_000_000):
    """df as ``src_dir/<i>.parquet``, one file with an ordered mtime, so a
    file stream with maxFilesPerTrigger=1 reads one per trigger in order."""
    tmp = os.path.join(src_dir, f"_t{i}")
    df.coalesce(1).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
    dst = os.path.join(src_dir, f"{i:02d}.parquet")
    shutil.move(os.path.join(tmp, part), dst)
    shutil.rmtree(tmp)
    os.utime(dst, (mtime + 1000 * i,) * 2)


def _progress(q) -> list[dict]:
    if not q.awaitTermination(560):
        q.stop()
        raise RuntimeError("stream timed out")
    return [json.loads(str(p)) for p in q.recentProgress if p.numInputRows > 0]


def stream_dedup_run(c, inp):
    n_batches, docs, src = inp
    spark, store = c.spark, os.path.join(c.tmp, "store")
    _, t_seed = timed(DS.seed_signature_store, docs, store, num_hashes=96)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with scoped_shuffle_partitions(spark, 16):
        progress = _progress(DS.stream_incremental_dedup(
            stream, store, os.path.join(c.tmp, "verdicts"), os.path.join(c.tmp, "ckpt"),
            num_hashes=96, trigger_available_now=True,
        ))
    verdicts = spark.read.parquet(os.path.join(c.tmp, "verdicts"))
    probe = spark.read.parquet(os.path.join(src, "00.parquet"))

    def classify():
        with pinning.scope():
            out = DS.classify_against_store(
                probe,
                spark.read.parquet(os.path.join(store, "hashes")),
                spark.read.parquet(os.path.join(store, "sigs")),
                num_hashes=96,
            )
            return sorted((r.doc_id, r.verdict) for r in out.collect())

    out = {
        "n_batches": n_batches, "seed_sec": t_seed,
        "per_batch_sec": [round(p["durationMs"]["triggerExecution"] / 1000, 2) for p in progress],
        "verdicts": {r.verdict: r["count"] for r in verdicts.groupBy("verdict").count().collect()},
        "store_rows_final": spark.read.parquet(os.path.join(store, "hashes")).count(),
    }
    before, out["probe_sec_fragmented"] = timed(classify)
    out["compaction"], out["compact_sec"] = timed(
        DS.compact_signature_store, spark, store, files_per_table=8
    )
    after, out["probe_sec_compacted"] = timed(classify)
    out["verdict_identity"] = before == after
    return out


def stream_dedup_check(vals, base):
    assert vals["verdict_identity"], vals


# -- pmi: count-then-join under Zipfian skew ---------------------------------
# A hot "zq zx" run in half the replicas adds scan work to the shipped
# operator but no join fanout; the first-draft shape (unigram counts joined
# onto per-occurrence pairs, counted after) must return the same top-k.


def pmi_corpus(c):
    base = _docs(c)
    hot = " " + "zq zx " * 40
    docs = c.reps(
        base,
        doc_id=F.col("doc_id") + F.col("rep") * _max_id(base),
        text=F.when(F.col("rep") % 2 == 0, F.concat("text", F.lit(hot))).otherwise(F.col("text")),
    )
    return c.pin(docs.repartition(c.par), "pmi")


def _naive_pmi(c, df, min_count=5, top_k=100):
    toks = c.pin(df.select(D.tokens("text").alias("tks")), "pmi_naive_tokens")
    occ = toks.filter(F.size("tks") >= 2).select(F.explode(D.adjacent_pairs("tks")).alias("p"))
    occ = occ.select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    uni = c.pin(
        toks.select(F.explode("tks").alias("a")).groupBy("a").agg(F.count(F.lit(1)).alias("u")),
        "pmi_naive_unigrams",
    )
    n_tot = uni.groupBy().agg(F.sum("u").alias("n"))
    joined = (
        occ.join(uni.select("a", F.col("u").alias("ua")), "a")
        .join(uni.select(F.col("a").alias("b"), F.col("u").alias("ub")), "b")
        .groupBy("a", "b", "ua", "ub")
        .agg(F.count(F.lit(1)).alias("bc"))
    )
    m_tot = joined.groupBy().agg(F.sum("bc").alias("m"))
    pmi = (F.col("bc") / F.col("m")) / ((F.col("ua") / F.col("n")) * (F.col("ub") / F.col("n")))
    return (
        joined.filter(F.col("bc") >= min_count)
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(m_tot))
        .select(
            F.col("a").alias("term_a"),
            F.col("b").alias("term_b"),
            F.col("bc").cast("bigint").alias("pair_count"),
            F.floor(F.log(pmi) * F.lit(1_000_000_000.0)).cast("bigint").alias("pmi_q"),
        )
        .orderBy(F.col("pmi_q").desc(), F.col("term_a"), F.col("term_b"))
        .limit(top_k)
    )


def pmi_run(c, corpus):
    def top(df):
        return {(r.term_a, r.term_b, r.pair_count) for r in df.collect()}

    shipped, t_shipped = timed(lambda: top(T.pmi_collocations(corpus, min_count=5, top_k=100)))
    naive, t_naive = timed(lambda: top(_naive_pmi(c, corpus)))
    return {
        "n_docs": corpus.count(), "n_top": len(shipped), "agree": shipped == naive,
        "shipped_sec": t_shipped, "naive_sec": t_naive,
    }


def pmi_check(vals, base):
    assert vals["agree"], vals


# -- trigram: stored-index substring search vs the full contains scan -------
# Rarest-gram posting intersection then an exact contains verify: the same
# hits as the scan, with text or xxhash64 gram keys; posting rows read fall
# from all, to the selected grams' buckets, to the selected grams.

_N_BUCKETS = 256
_TRIGRAM_QUERIES = [
    (0, "table value"), (1, "merge batch"), (2, "slow filter"), (3, "the line sort"),
    (4, "zebra"), (5, "fast spark a"), (6, "window table table"), (7, "customer query line"),
]


def trigram_corpus(c):
    base = _docs(c)
    docs = c.reps(base, doc_id=F.col("doc_id") + F.col("rep") * _max_id(base), text="text")
    queries = c.spark.createDataFrame(_TRIGRAM_QUERIES, "qid bigint, q string")
    return c.pin(docs.repartition(c.par), "trigram"), queries


def trigram_run(c, inp):
    docs, queries = inp
    out = {"n_docs": docs.count()}
    hits = {}
    for key in ("text", "xxhash64"):
        idx = os.path.join(c.tmp, f"idx_{key}")
        kw = {} if key == "text" else {"gram_key": key}
        _, out[f"{key}_build_sec"] = timed(R.trigram_index_build, docs, idx, n_buckets=_N_BUCKETS, **kw)
        found = R.trigram_search_indexed(
            c.spark, idx, queries, docs, k_grams=4, n_buckets=_N_BUCKETS, **kw
        )
        hits[key], out[f"{key}_search_sec"] = timed(lambda: {(r.qid, r.doc_id) for r in found.collect()})
    scan = docs.crossJoin(F.broadcast(queries)).filter(
        F.instr(F.lower("text"), F.lower(F.col("q"))) > 0
    )
    truth, out["scan_sec"] = timed(lambda: {(r.qid, r.doc_id) for r in scan.collect()})
    # IO proxy: posting rows in all, in the selected grams' buckets, and of
    # the selected grams
    idx = os.path.join(c.tmp, "idx_text")
    sel, _ = R._select_rarest_grams(
        R._norm_substring_queries(queries, "qid", "q"), c.spark.read.parquet(f"{idx}/gram_df"), 4
    )
    buckets = [
        r.b for r in sel.select(F.pmod(F.xxhash64("g"), F.lit(_N_BUCKETS)).alias("b")).distinct().collect()
    ]
    post = c.spark.read.parquet(f"{idx}/postings")
    out.update(
        postings=post.count(),
        bucket_postings=post.filter(F.col("g_bucket").isin(buckets)).count(),
        gram_postings=post.join(F.broadcast(sel.select("g").distinct()), "g").count(),
        matches=len(truth),
        agree=hits["text"] == truth,
        hashed_agree=hits["xxhash64"] == hits["text"],
    )
    return out


def trigram_check(vals, base):
    assert vals["agree"] and vals["hashed_agree"], vals


# -- multimodal: image/audio/video signatures and banded near pairs ---------
# Signature stages are Arrow-batched projections linear in payload bytes;
# every replica's payloads are distinct.  The near-pair join runs on
# 2*n_docs*k/5 random 16x16 BMPs with one planted one-pixel variant per
# 10 base images, so verified pairs measure the blocking, not duplicates.


def _big_bmps(ids):
    import numpy as np
    import pandas as pd

    def draw(batches):
        for pdf in batches:
            out = []
            for d in pdf["doc_id"]:
                d = int(d)
                base_id = d // 2
                px = np.random.RandomState(base_id % 2**31).randint(0, 256, size=(16, 16, 3)).astype(np.uint8)
                if d % 2 == 1:
                    if base_id % 10 != 0:
                        continue  # variants only for every 10th base
                    px = px.copy()
                    px[0, 0, 0] ^= 0xFF  # one-pixel perturbation
                out.append((d, MM.encode_bmp(px)))
            yield pd.DataFrame(out, columns=["id", "payload"])

    return ids.mapInPandas(draw, "id bigint, payload binary")


def multimodal_corpus(c):
    ids = c.reps(_docs(c, "doc_id"), doc_id=F.col("doc_id") * c.k + F.col("rep"))
    n_near = 2 * c.n_docs * c.k // 5
    near = _big_bmps(c.spark.range(2 * n_near).select(F.col("id").alias("doc_id")).repartition(c.par))
    return c.pin(ids.repartition(c.par), "mm_ids"), c.pin(near, "mm_bmps")


def multimodal_run(c, inp):
    ids, bmps = inp
    out = {"n": ids.count(), "near_images": bmps.count()}
    img = MM.image_ahash(MM.synthesize_bmp_payloads(ids).select("id", "payload"))
    out["images"], out["image_sec"] = timed(img.filter(F.col("n_tiles") > 0).count)
    aud = MM.audio_fingerprint(MM.synthesize_wav_payloads(ids).select("id", "payload"))
    out["clips"], out["audio_sec"] = timed(aud.filter(F.col("n_frames") > 0).count)
    vid = MM.video_scene_cuts(MM.synthesize_video_payloads(ids).select("id", "payload"))
    (out["videos"], out["scenes"]), out["video_sec"] = timed(
        lambda: tuple(vid.agg(F.count(F.lit(1)), F.sum("n_scenes")).first())
    )
    out["near_pairs"], out["near_sec"] = timed(
        lambda: MM.image_ahash_near_pairs(bmps, max_hamming=1).count()
    )
    return out


def multimodal_check(vals, base):
    assert vals["images"] == vals["clips"] == vals["videos"] == vals["n"], vals
    linear("n")(vals, base)


# -- bm25: per-query cost follows the queried terms' postings ----------------
# The broadcast semi-filter runs before the tf aggregation; the stored index
# returns the same number of top-k rows as the inline search.


def bm25_corpus(c):
    docs = c.reps(_docs(c), doc_id=F.col("doc_id") + F.col("rep") * _GRAPH_OFFSET, text="text")
    queries = c.spark.createDataFrame(
        [(qid, term) for qid, ts in QF._BM25_QUERIES for term in ts], "query_id long, term string"
    )
    return c.pin(docs.repartition(c.par), "bm25"), queries


def bm25_run(c, inp):
    docs, queries = inp
    terms = [term for _, ts in QF._BM25_QUERIES for term in ts]
    post = R._postings(docs, "doc_id", "text")
    out = {
        "n_docs": docs.count(), "postings": post.count(),
        "queried_postings": post.filter(F.col("tok").isin(terms)).count(),
    }
    out["n_out"], out["inline_sec"] = timed(lambda: R.bm25_topk(docs, queries, k=10).count())
    idx = os.path.join(c.tmp, "idx")
    _, out["build_sec"] = timed(R.bm25_index_build, docs, idx, n_buckets=64)
    out["n_indexed"], out["indexed_sec"] = timed(
        lambda: R.bm25_topk_indexed(c.spark, idx, queries, k=10).count()
    )
    return out


def bm25_check(vals, base):
    assert vals["n_indexed"] == vals["n_out"], vals
    linear("n_docs", "postings", "queried_postings")(vals, base)


# -- ssj: stream-stream interval join state ----------------------------------
# The events month, k disjoint user universes, streamed as 8 time-split
# micro-batches per side: state rows plateau at the lag window instead of
# accumulating the stream, and joined rows grow exactly with k.

_SSJ_BATCHES = 8


def ssj_corpus(c):
    ev = c.reps(
        c.read("events"),
        event_id=F.col("event_id") + F.col("rep") * 10**9,
        user_id=F.col("user_id") + F.col("rep") * 10**9,
        event_type="event_type",
        ts="ts",
    )
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]  # driver-ok: 1 row
    span = (hi - lo) / _SSJ_BATCHES
    out = {}
    for side, id_col in (("view", "view_id"), ("click", "click_id")):
        # the raw parquet reads back TIMESTAMP_NTZ; watermarks need TIMESTAMP
        df = ev.filter(F.col("event_type") == side).select(
            F.col("event_id").alias(id_col), "user_id", F.col("ts").cast("timestamp").alias("ts")
        )
        src = os.path.join(c.tmp, side)
        for i in range(_SSJ_BATCHES):
            a = lo + i * span
            part = df.filter((F.col("ts") >= a) & ((F.col("ts") < a + span) | F.lit(i == _SSJ_BATCHES - 1)))
            _write_one_file(part, src, i, mtime=1_700_000_000)
        out[side] = (src, df.count())
    return out


def ssj_run(c, srcs):
    spark = c.spark

    def stream(side, ts):
        src = srcs[side][0]
        return (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1").parquet(src).withColumnRenamed("ts", ts)
        )

    j = stream_interval_join(
        stream("view", "v_ts"), stream("click", "c_ts"), key="user_id", left_ts="v_ts",
        right_ts="c_ts", max_lag_seconds=6 * 3600, watermark="1 hour",
    )
    sink = f"scalecheck_ssj_{os.getpid()}_{c.k}"
    with scoped_shuffle_partitions(spark, 8):
        q = j.writeStream.format("memory").queryName(sink).outputMode("append")
        progress = _progress(q.trigger(availableNow=True).start())
    return {
        "views": srcs["view"][1], "clicks": srcs["click"][1],
        "joined_rows": spark.table(sink).count(),
        "per_batch": [
            {
                "input": p["numInputRows"],
                "state_rows": sum(so["numRowsTotal"] for so in p.get("stateOperators", [])),
                "sec": round(p["durationMs"]["triggerExecution"] / 1000, 2),
            }
            for p in progress
        ],
    }


# -- skew_join: AQE's skew-join rewrite vs none, one hot key ----------------
# 2,000*n_docs*k fact rows, 30% on key 0, joined to a 50k-row dimension too
# big to broadcast: join skew needs no manual salting on this engine.

_SKEW_CONFS = {
    # make the splitter see the hot partition at box scale
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8m",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4m",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    # keep AQE from fusing everything into few partitions first
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
}


def skew_join_corpus(c):
    n_rows, n_keys = 2000 * c.n_docs * c.k, 50_000
    fact = c.spark.range(n_rows).select(
        F.when((F.col("id") % 1_000_000) < 300_000, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys)))
        .alias("k"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    dim = c.spark.range(n_keys).select(
        F.col("id").alias("k"), F.sha2(F.col("id").cast("string"), 256).alias("attr")
    )
    return n_rows, fact.join(dim, "k").agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))


def skew_join_run(c, inp):
    n_rows, joined = inp
    runs = []
    # the first run warms the JIT and the shuffle service
    for skew_on in (False, False, True, False, True):
        confs = dict(_SKEW_CONFS, **{"spark.sql.adaptive.skewJoin.enabled": str(skew_on).lower()})
        with scoped_sql_confs(c.spark, confs):
            out = joined.select("*")  # a fresh plan under these confs
            row, sec = timed(lambda: out.collect()[0])  # driver-ok: 1 row
            plan = out._jdf.queryExecution().executedPlan().toString()
        runs.append({
            "skew_join": skew_on, "sec": sec, "rows": row.n, "sum": row.s,
            "join": "SMJ" if "SortMergeJoin" in plan else "SHJ" if "ShuffledHashJoin" in plan else "?",
            "skew_markers": len(re.findall("skew", plan, re.IGNORECASE)),
        })
    return {"n_rows": n_rows, "runs": runs}


def skew_join_check(vals, base):
    assert {(r["rows"], r["sum"]) for r in vals["runs"]} == {(vals["n_rows"], vals["runs"][0]["sum"])}, vals


# -- disk_rung: a multi-GB corpus on disk through the dedup family, an IVF
# build with recall, and the composed curation pipeline --------------------
# Each base document is replicated k times (doc_id = base*k + rep): rep 1 is
# an exact copy of rep 0, rep 2 its 90%-token prefix, reps 0 and 3..18
# carry the hot base paragraph plus a unique 128-hex-token tail, reps >= 19
# the tail only, so pair counts stay linear in bases.  Each base vector is
# replicated k times with a per-(vec, rep, dim) perturbation.  Steps print
# rows and an order-free checksum; the curation step also samples the
# block manager's pinned bytes every 0.5 s.


def disk_rung_corpus(c):
    spark, k = c.spark, c.k
    tail = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(128)),
            lambda i: F.hex(F.xxhash64(F.col("base_id"), F.col("tail_rep"), i)),
        ),
        " ",
    )
    reps = spark.range(k).select(F.col("id").cast("int").alias("rep"))
    spread = c.read("documents").select(
        F.col("doc_id").alias("base_id"), F.col("text").alias("base_text"), "lang", "source"
    ).crossJoin(F.broadcast(reps))
    body = F.when(
        F.col("tail_rep") < 19, F.concat(F.col("base_text"), F.lit("\n\n"), tail)
    ).otherwise(tail)
    with_text = spread.withColumn(
        "tail_rep", F.when(F.col("rep").isin(1, 2), F.lit(0)).otherwise(F.col("rep"))
    ).select((F.col("base_id") * k + F.col("rep")).alias("doc_id"), body.alias("text"), "lang", "source", "rep")
    toks = F.split(F.col("text"), r"\s+")
    prefix90 = F.array_join(F.slice(toks, 1, F.ceil(F.size(toks) * 0.9).cast("int")), " ")
    docs = with_text.select(
        "doc_id",
        F.when(F.col("rep") == 2, prefix90).otherwise(F.col("text")).alias("text"),
        "lang",
        "source",
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    docs.repartition(c.par).write.parquet(f"{c.tmp}/documents.parquet")
    perturbed = F.transform(
        F.col("embedding"),
        lambda x, i: (
            x + (F.pmod(F.xxhash64(F.col("vec_id"), F.col("rep"), i), F.lit(1000)) / F.lit(100000.0)).cast("float")
        ).cast("float"),
    )
    emb = c.read("embeddings").crossJoin(F.broadcast(reps)).select(
        (F.col("vec_id") * k + F.col("rep")).alias("vec_id"), perturbed.alias("embedding"), "label"
    )
    emb.repartition(c.par).write.parquet(f"{c.tmp}/embeddings.parquet")
    return c.tmp


def _stage_totals(spark) -> dict:
    """Shuffle, spill and input totals over the session's completed
    stages, from the status store."""
    store = spark.sparkContext._jsc.sc().statusStore()
    defaults = [getattr(store, f"stageList$default${i}")() for i in (4, 5)]
    it = store.stageList(None, False, False, *defaults).iterator()
    keys = ("shuffleReadBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled", "inputBytes")
    tot = dict.fromkeys(keys, 0)
    while it.hasNext():
        st = it.next()
        for key in keys:
            tot[key] += getattr(st, key)()
    return {key: round(v / 2**30, 3) for key, v in tot.items()}


def disk_rung_run(c, rung):
    spark = c.spark
    docs = spark.read.parquet(f"{rung}/documents.parquet")
    emb = spark.read.parquet(f"{rung}/embeddings.parquet").select("vec_id", "embedding")
    before = _stage_totals(spark)
    out = {
        "n_docs": docs.count(), "n_vecs": emb.count(),
        "raw_gb": round(docs.agg(F.sum("n_chars")).first()[0] / 2**30, 3),
        "steps": {},
    }

    def step(name, build):
        # a builder, not a frame: eager pins materialize while the query
        # is built, so the timer wraps construction too
        t0 = time.monotonic()
        df = build()
        cs, n = checksum(df, [F.col(col).cast("string") for col in df.columns])
        out["steps"][name] = {
            "rows": n, "checksum": None if cs is None else f"{cs & 0xFFFFFFFFFFFFFFFF:016x}",
            "sec": round(time.monotonic() - t0, 2),
        }

    step("dedup_exact", lambda: D.exact_duplicates(docs))
    step("dedup_paragraphs", lambda: L.dedup_units_across_corpus(docs, hash_units=True))
    step("dedup_minhash", lambda: D.minhash_near_duplicates(
        docs, num_hashes=64, threshold=0.5, materialize=False
    ))
    # an ordered take keeps the probe set a function of k alone
    queries = c.pin(
        emb.filter(F.col("vec_id") % c.k == 0).orderBy("vec_id").limit(10), "rung_queries"
    )
    ivf = {}

    def ann():
        cents = c.pin(SIM.build_ivf_centroids(emb, num_centroids=64), "rung_cents")
        ivf["topk"] = c.pin(SIM.ivf_topk(emb, queries, cents, k=10, nprobe=8), "rung_topk")
        return ivf["topk"]

    step("ann_ivf_build_probe", ann)
    truth = SIM.brute_force_topk(emb, queries, k=10).select("query_id", "corpus_id")
    out["recall10"] = [
        ivf["topk"].select("query_id", "corpus_id").join(truth, ["query_id", "corpus_id"]).count(),
        truth.count(),
    ]

    series, stop = [], threading.Event()
    jsc = spark.sparkContext._jsc.sc()

    def sample():
        while not stop.is_set():
            series.append(sum(i.diskSize() + i.memSize() for i in jsc.getRDDStorageInfo()))
            stop.wait(0.5)

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        with pinning.scope() as pipeline:
            step("curation_pipeline_full", lambda: QC.q_curation_pipeline_full(spark, rung, plant_offset=10**9))
            out["pins"] = [(p.label, p.est, p.flavor) for p in pipeline.pins]
        time.sleep(1.5)  # one sample after the release closes the series
    finally:
        stop.set()
        sampler.join(timeout=5)
    out["peak_pinned_gb"] = round(max(series, default=0) / 2**30, 3)
    after = _stage_totals(spark)
    out["stage_gb"] = {key: round(after[key] - before[key], 3) for key in after}
    return out


def disk_rung_check(vals, base):
    hits, denom = vals["recall10"]
    assert 0 < denom and hits <= denom, vals


SPECS: dict[str, Spec] = {
    "dedup": Spec(dedup_corpus, dedup_run, linear("n_docs")),
    "bfs": Spec(bfs_corpus, bfs_run, linear("n_edges", "rows")),
    "pagerank": Spec(pagerank_corpus, pagerank_run, linear("n_edges", "n_nodes")),
    "snapshot": Spec(snapshot_corpus, snapshot_run, snapshot_check),
    "qsnap": Spec(qsnap_corpus, qsnap_run, qsnap_check),
    "ivf": Spec(ivf_corpus, ivf_run, ivf_check),
    "shard_rank": Spec(shard_rank_corpus, shard_rank_run, shard_rank_check),
    "fuzzy": Spec(fuzzy_corpus, fuzzy_run, fuzzy_check),
    "substr": Spec(substr_corpus, substr_run, substr_check),
    "lines": Spec(lines_corpus, lines_run, lines_check),
    "stream_dedup": Spec(stream_dedup_corpus, stream_dedup_run, stream_dedup_check),
    "pmi": Spec(pmi_corpus, pmi_run, pmi_check),
    "trigram": Spec(trigram_corpus, trigram_run, trigram_check),
    "multimodal": Spec(multimodal_corpus, multimodal_run, multimodal_check),
    "bm25": Spec(bm25_corpus, bm25_run, bm25_check),
    "ssj": Spec(ssj_corpus, ssj_run, linear("views", "clicks", "joined_rows")),
    "skew_join": Spec(skew_join_corpus, skew_join_run, skew_join_check),
    "disk_rung": Spec(disk_rung_corpus, disk_rung_run, disk_rung_check),
}


def run_spec(spark, name: str, factors, sf_dir: str = SF_DIR, scratch: str | None = None) -> list[dict]:
    """Run spec ``name`` at each factor, print and return one record per
    factor; raises AssertionError when a factor's check fails."""
    spec, base, rows = SPECS[name], None, []
    for k in factors:
        tmp = tempfile.mkdtemp(prefix=f"scalecheck_{name}_{k}_", dir=scratch)
        try:
            with pinning.scope():
                c = Ctx(spark, sf_dir, k, tmp)
                inp, t_corpus = timed(spec.corpus, c)
                vals, t_run = timed(spec.run, c, inp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        vals = {"spec": name, "factor": k, "corpus_sec": t_corpus, "sec": t_run, **vals}
        base = base or (k, vals)
        spec.check(vals, base)
        print(json.dumps(vals), flush=True)
        rows.append(vals)
    return rows


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in SPECS:
        sys.exit(f"usage: scalecheck.py <spec> [factors ...]; specs: {' '.join(SPECS)}")
    factors = [int(a) for a in sys.argv[2:]] or [1, 4, 16]
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark(app_name=f"scalecheck-{sys.argv[1]}", cpus=cpus)
    run_spec(spark, sys.argv[1], factors, scratch=os.environ.get("RUNG_DIR"))


if __name__ == "__main__":
    main()
