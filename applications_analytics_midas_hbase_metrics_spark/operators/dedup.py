"""Deduplication operators for large-scale training-data pipelines —
extensions beyond the reference surface (BASELINE.json north star;
SURVEY.md §7 phase 7).

All operators are pure DataFrame compositions (no Python in the hot
path):

  * exact duplicates        — hash group-by on normalized content
  * MinHash + LSH           — shingle → minhash signature → banded
                              bucket join → exact-Jaccard verification
  * SimHash                 — 64-bit sign-aggregated fingerprint, built
                              on the Java-hash so an external SQL engine
                              can reproduce it bit-for-bit
  * n-gram Jaccard          — character-n-gram set similarity
  * embedding near-dup      — cosine over `array<float>` with
                              hyperplane-LSH bucketing as the scale path

Scale design: every candidate-generation step is a shuffle on a
*bucket key* (band hash / signature / simhash prefix), never an O(n²)
cross join; the quadratic step only runs inside buckets.  The exact
verification joins are shuffle-on-doc_id.  At 100 TB the shingle/
signature build is embarrassingly parallel and AQE handles bucket skew
(hot bands from boilerplate text).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from ..functions.keys import java_hash, java_hash_py, java_hash_vec
from . import pinning

# Mersenne prime for the affine minhash permutations (universal hashing).
_MH_PRIME = 2_147_483_647


# ---------------------------------------------------------------------------
# Tokenization / shingling (shared)
# ---------------------------------------------------------------------------

def tokens(text: Column | str) -> Column:
    """Lower-cased whitespace tokens; empty strings removed.

    Computed as collapse-whitespace → trim → split-on-space rather than
    the direct ``filter(split(.., '\\s+'), t != '')``: the two produce
    the identical token list for every input (empties only ever arise
    from leading/trailing whitespace, which trim removes after the
    collapse turns any such run into one ASCII space — property-pinned
    against the filter form in tests/test_properties.py), but the
    filter HOF is CodegenFallback — one interpreted lambda per token —
    while this form stays entirely inside whole-stage codegen, and
    tokens() sits on the hot path of every text operator."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    return F.when(
        F.length(norm) == 0, F.array().cast("array<string>")
    ).otherwise(F.split(norm, " "))


def adjacent_pairs(arr: Column | str) -> Column:
    """Array of (a, b) structs for every ADJACENT element pair of
    ``arr`` — ``zip(arr, arr[1:])`` as a single JVM expression
    (``slice``/``arrays_zip``, no explode here so callers choose the
    row shape).  Empty for arrays shorter than 2.  Shared by the bigram
    LM scorer (text.ngram_lm_score) and the BPE pair counter
    (bpe.train_bpe_merges)."""
    c = F.col(arr) if isinstance(arr, str) else arr
    npairs = F.greatest(F.size(c) - 1, F.lit(0))  # slice() rejects length < 0
    return F.arrays_zip(
        F.slice(c, 1, npairs).alias("a"), F.slice(c, 2, npairs).alias("b")
    )


def word_shingles(toks: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as space-joined strings.  Documents
    shorter than k tokens get their whole text as the single shingle.

    Parity twin for :func:`word_shingle_strings` (the production regex
    form) — if you call it anyway, pass ``toks`` as a MATERIALIZED
    column attribute, never an inline ``tokens(text)`` expression: the
    HOF lambda re-evaluates an inline expression at every position
    (O(tokens²) per document, SCALE.md round-12 addendum 4)."""
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    whole = F.array(F.array_join(toks, " "))
    return F.array_distinct(F.when(n >= k, shingled).otherwise(whole))


def char_ngrams(text: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams of the lower-cased text.  Parity twin
    for :func:`char_ngram_strings` (the production regex form); the
    per-position lambda re-evaluates ``lower(text)`` at every offset —
    O(len²) on long documents (SCALE.md round-12 addendum 4)."""
    c = F.col(text) if isinstance(text, str) else text
    low = F.lower(c)
    ln = F.length(low)
    grams = F.transform(
        F.sequence(F.lit(1), ln - (n - 1)),
        lambda i: F.substring(low, i, n).cast("string"),
    )
    return F.array_distinct(F.when(ln >= n, grams).otherwise(F.array(low)))


def word_shingle_hashes(toks: Column, k: int = 3) -> Column:
    """Distinct word k-shingles as 64-bit xxhash values — set-equivalent
    to :func:`word_shingles` up to hash collisions (p < 1e-10 for
    realistic shingle universes), but every downstream operation
    (distinct, signature build, candidate shuffle, exact-intersect
    verify) runs on fixed-width longs instead of variable-length
    strings.  The shingle strings exist only transiently inside the
    projection; exact Jaccard on the hash sets equals Jaccard on the
    string sets."""
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.xxhash64(F.array_join(F.slice(toks, i, k), " ")),
    )
    whole = F.array(F.xxhash64(F.array_join(toks, " ")))
    return F.array_distinct(F.when(n >= k, shingled).otherwise(whole))


def char_ngram_hashes(text: Column | str, n: int = 5) -> Column:
    """Distinct char n-grams as 64-bit xxhash values (see
    :func:`word_shingle_hashes` for why)."""
    c = F.col(text) if isinstance(text, str) else text
    low = F.lower(c)
    ln = F.length(low)
    grams = F.transform(
        F.sequence(F.lit(1), ln - (n - 1)),
        lambda i: F.xxhash64(F.substring(low, i, n)),
    )
    return F.array_distinct(
        F.when(ln >= n, grams).otherwise(F.array(F.xxhash64(low)))
    )


def _jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / (|A| + |B| - |A∩B|) with the intersection written ONCE —
    codegen's subexpression elimination then evaluates one
    ``array_intersect`` per row (the doubled literal form defeated it)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / (F.size(a) + F.size(b) - inter)


# ---------------------------------------------------------------------------
# 1. Exact dedup — hash group-by
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame,
    content_col: str = "text",
    id_col: str = "doc_id",
    max_ids: int = 100,
) -> DataFrame:
    """Groups of byte-identical content: (content_hash, n_copies, keep_id,
    all_ids).  One shuffle on the 256-bit content hash; the texts
    themselves never shuffle (map-side hash first) — at 100 TB this moves
    ~40 bytes/doc, not documents.

    ``all_ids`` carries at most ``max_ids`` (lowest) ids per group: a
    degenerate group — billions of empty or boilerplate documents — must
    not build one giant array row.  ``n_copies``/``keep_id`` stay exact
    over the full group.

    Hot-key shape (rewritten round 12; a heavily duplicated key is this
    operator's TARGET workload, not a corner case): no window — a window
    partitioned on the hash funnels EVERY copy of the hot key through
    one task's sort.  Instead, phase 1 groups on (hash,
    spark_partition_id): each such group lives entirely inside one input
    partition, so hash aggregation completes MAP-SIDE (the exchange
    moves one pre-reduced row per distinct hash per partition, never
    documents or per-copy ids), with the per-group id list pruned to the
    local lowest ``max_ids`` before it ever shuffles.  Phase 2 merges
    the partials per hash: counts/mins are algebraic, and the reducer's
    array buffer is bounded by max_ids x (partitions that saw the key) —
    the global lowest max_ids ids are always contained in the union of
    the per-partition lowest max_ids."""
    h = F.sha2(F.col(content_col), 256)
    part = (
        df.select(
            h.alias("content_hash"),
            F.col(id_col).cast("bigint").alias("id"),
            F.spark_partition_id().alias("_p"),
        )
        .groupBy("content_hash", "_p")
        .agg(
            F.count("*").cast("bigint").alias("_n"),
            F.min("id").alias("_min"),
            F.slice(F.array_sort(F.collect_list("id")), 1, max_ids).alias(
                "_ids"
            ),
        )
    )
    return (
        part.groupBy("content_hash")
        .agg(
            F.sum("_n").cast("bigint").alias("n_copies"),
            F.min("_min").alias("keep_id"),
            F.slice(
                F.array_sort(F.flatten(F.collect_list("_ids"))), 1, max_ids
            ).alias("all_ids"),
        )
        .filter(F.col("n_copies") > 1)
    )


def drop_exact_duplicates(
    df: DataFrame, content_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id representative of each identical-content group.

    Hot-key shape (rewritten round 12): ``groupBy(hash).agg(min_by(row,
    id))``, not a ``row_number`` window.  min_by is a declarative
    aggregate with partial merge, so each map task combines its copies
    of a key down to ONE candidate row before the shuffle and the
    reducer merges at most one row per key per map partition — a
    billion-copy boilerplate document costs the reducer ~#partitions
    comparisons, where the window shape serialized all billion rows
    through a single task's sort (AQE skew handling covers joins, not
    windows)."""
    key = F.sha2(F.col(content_col), 256)
    row = F.struct(*[F.col(c) for c in df.columns])
    return (
        df.groupBy(key.alias("_k"))
        .agg(F.min_by(row, F.col(id_col)).alias("_r"))
        .select("_r.*")
    )


# ---------------------------------------------------------------------------
# 2. MinHash + LSH near-dup
# ---------------------------------------------------------------------------

def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as array<bigint>: for permutation j,
    ``min over shingles of (a_j * xxhash64(s) + b_j) mod p``.

    The a/b constants are fixed odd/even sequences, so the signature is
    deterministic across runs and partitions.  Entirely JVM-side
    (xxhash64 + higher-order functions)."""
    base = F.transform(shingles, lambda s: F.xxhash64(s))

    def perm(a: int, b: int):
        # closure factory: a default-arg lambda would change the HOF arity
        # (PySpark counts every positional parameter as a lambda argument)
        return lambda h: F.pmod(a * F.pmod(h, _MH_PRIME) + b, _MH_PRIME)

    sigs = []
    for j in range(num_hashes):
        a = 2 * j + 1
        b = 2654435761 * (j + 1) % _MH_PRIME
        sigs.append(F.array_min(F.transform(base, perm(a, b))))
    return F.array(*sigs)


def word_shingle_strings(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles as single-space-joined strings, built
    with ONE regex pass instead of a per-element ``transform`` lambda:
    higher-order functions are CodegenFallback in Spark — every element
    evaluates through the interpreted expression path with per-element
    object allocation — while a lookahead ``regexp_extract_all`` over
    the whitespace-normalized text stays inside whole-stage codegen and
    emits the identical shingle set (asserted byte-for-byte against the
    HOF form in tests/test_dedup_similarity.py).  The ``(?:^| )``
    anchor consumes the token boundary so each shingle starts at a
    token, not at every character."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    pat = rf"(?:^| )(?=((?:\S+ ){{{k - 1}}}\S+))"
    grams = F.array_distinct(F.regexp_extract_all(norm, F.lit(pat), 1))
    ntok = F.size(F.split(norm, " "))
    return F.when(ntok >= k, grams).otherwise(F.array(norm))


def char_ngram_strings(text: Column | str, n: int = 5) -> Column:
    """Distinct char n-grams of the lower-cased text via one lookahead
    regex pass (see :func:`word_shingle_strings` for why regex beats a
    per-position HOF).  ``(?s)`` keeps grams spanning newlines, matching
    the ``substring`` formulation."""
    c = F.col(text) if isinstance(text, str) else text
    low = F.lower(c)
    grams = F.array_distinct(
        F.regexp_extract_all(low, F.lit(rf"(?s)(?=(.{{{n}}}))"), 1)
    )
    return F.when(F.length(low) >= n, grams).otherwise(F.array(low))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 96,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold) over
    word k-shingles.  See :func:`lsh_near_duplicates` for the plan."""
    base = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).cast("bigint").alias("id"),
        word_shingle_strings(text_col, shingle_k).alias("shingles"),
    )
    return lsh_near_duplicates(base, num_hashes, rows_per_band, threshold, materialize)


def ngram_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    num_hashes: int = 96,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    materialize: bool = True,
) -> DataFrame:
    """Blocked ALL-PAIRS character-n-gram Jaccard dedup: the same
    MinHash+LSH candidate machinery as the word-shingle path, with
    char n-grams as the set elements — the fuzzy-matching shape for
    short/denormalized text where word shingles are too coarse.  No
    explicit pair relation needed (unlike :func:`ngram_jaccard_pairs`)
    and no O(n²) cross join."""
    base = df.filter(F.length(F.trim(F.col(text_col))) > 0).select(
        F.col(id_col).cast("bigint").alias("id"),
        char_ngram_strings(text_col, n).alias("shingles"),
    )
    return lsh_near_duplicates(base, num_hashes, rows_per_band, threshold, materialize)


def lsh_near_duplicates(
    base: DataFrame,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    materialize: bool = True,
) -> DataFrame:
    """MinHash+LSH near-dup core over a prepared (id, shingles) frame.

    Plan shape: shingle+sign map-side → explode bands → shuffle on
    (band_id, band_hash) → per-bucket self-join (candidates) → distinct →
    exact-Jaccard verify via two shuffle joins back to the shingle sets.
    Candidates are verified exactly, so false positives are filtered and
    the output equals the brute-force answer (what the DuckDB oracle
    computes) up to LSH recall.  Banding is sized so recall failures are
    negligible even AT the threshold: with r=2, b=64 a pair at s=0.5 is
    missed with (1-0.25)^b: 1e-8 at b=64, 1e-6 at the b=48 default the
    wrappers use (96 hashes, 25% less signature work; with thousands of
    output pairs the expected misses stay ~1e-3/run) — not just the
    easy s=0.7 pairs.

    Two scale guards on the candidate set:
      * the standard size-ratio bound — jaccard(A,B) <= min/max set
        sizes, so any pair with ``least(sz) < threshold·greatest(sz)``
        can never verify; it is killed INSIDE the band-join condition,
        before the distinct and before any shingle array is carried.
        On self-similar corpora (hot bands from boilerplate) this is
        the difference between verifying every banded collision and
        verifying only plausible ones.
      * set sizes ride along from the signature aggregate for free
        (the shingle arrays are distinct-element, so the exploded row
        count per id IS the set size) — no extra join, and the final
        jaccard needs just ONE array_intersect.

    With ``materialize=True`` (default) the signature frames (hash
    sets + minima, see :func:`_hset_frame`/:func:`_mins_frame`) are
    computed eagerly (localCheckpoint) so callers can fan the pairs
    out (e.g. the clustering self-union) without re-running the LSH
    DAG and a long-lived session does not accumulate cached blocks; on
    a cluster deployment a persisted signature table serves the same
    role.  ``materialize=False`` returns the lazy plan (for inspection
    / custom caching); its internal signature persists live in the
    caller's pin scope (operators/pinning.py).

    The whole pipeline is HOF-free by construction: shingling is one
    regex pass, element hashing happens AFTER the explode as a plain
    projection, the verification hash-sets fall out of the signature
    aggregate, and band hashes are explicit column expressions —
    nothing drops to the interpreted per-element path."""
    # Two pinned frames instead of one (round 16): the element hash
    # sets ride a map-side projection and the MinHash minima a purely
    # declarative HashAggregate over exploded LONGS — see
    # _hset_frame/_mins_frame for why the former single aggregate
    # (collect_set + 64 mins in one ObjectHashAggregate) exhausted a
    # 252 GB disk at the mult=150 rung.  hs feeds the mins build once
    # and the verify joins twice; sig feeds the band self-join.
    hs = pinning.pin(_hset_frame(base), "lsh_hash_sets", eager=materialize)
    sig = pinning.pin(
        _mins_frame(hs, num_hashes), "lsh_minima", eager=materialize
    )
    bands = _band_frame(sig, num_hashes, rows_per_band)

    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.id") < F.col("b.id"))
            & _ratio_ok(threshold),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    if materialize:
        chunked = _verify_chunked(cand, hs, threshold)
        if chunked is not None:
            return chunked
    verified = _verify_pairs(cand, hs, hs, threshold)
    return pinning.pin(verified, "lsh_verified") if materialize else verified


#: Scratch budget per exact-verify pass, bytes.  The verify joins ship
#: BOTH element-hash arrays per candidate pair through one shuffle; on
#: a low-Jaccard-floor corpus the candidate count grows with the SQUARE
#: of the corpus (measured on the rung's shared-hex-gram universe:
#: 106k -> 419k -> 1.65M pairs at 50k/100k/200k docs, ~3e-5 of all
#: pairs), so the single-shuffle payload is unbounded even though the
#: verified OUTPUT is tiny.  Above the budget the verify runs in
#: deterministic pair-hash chunks, each its own job.  The budget bounds
#: the payload of one chunk's join; that chunk's scratch (shuffle files
#: of both exchanges) can reach about twice the budget.  Env-tunable for
#: cluster deployments with real shuffle capacity.
VERIFY_CHUNK_BYTES = int(
    float(os.environ.get("SPARK_GRAFT_VERIFY_CHUNK_GB", "24")) * (1 << 30)
)


def _verify_chunked(
    cand: DataFrame, hs: DataFrame, threshold: float
) -> DataFrame | None:
    """Budget-bounded exact verification, engaged only in the large
    regime: returns ``None`` when the hash-set frame's plan estimate is
    below :data:`pinning.SMALL_FRAME_BYTES` (the caller then keeps the
    one-pass plan — every test-SF plan is unchanged by construction).

    Above it: pin the candidate table (narrow — 28 bytes/pair), measure
    the EXACT payload from its carried set sizes, split the pairs into
    ``K = ceil(payload / budget)`` deterministic chunks by pair hash,
    and verify each chunk as its own job against a partition-pinned
    hash-set frame (repartitioned by id once; the lazy pin keeps the
    partitioning, so no chunk re-exchanges the 8+ byte/element set
    table — only the chunk's own pair×array rows move).  The chunk
    results are tiny eager pins handed to the caller's scope; the
    candidate and hash-set pins are released when the loop ends,
    normally or by a failed chunk job."""
    est = pinning.plan_size_estimate(hs)
    if est is None or est < pinning.SMALL_FRAME_BYTES:
        return None
    with pinning.scope() as chunks:
        cand = pinning.pin(cand, "verify_candidates")
        payload = cand.agg(
            F.sum((F.col("sz_a") + F.col("sz_b")).cast("bigint"))
        ).first()[0]
        payload = (payload or 0) * 8
        k = int(-(-payload // VERIFY_CHUNK_BYTES))
        if k <= 1:
            verified = _verify_pairs(cand, hs, hs, threshold)
            parts = [pinning.pin(verified, "verified")]
        else:
            hs = pinning.pin(
                hs.repartition("id"), "verify_hash_sets", eager=False
            )
            chunk_col = F.pmod(F.xxhash64("id_a", "id_b"), F.lit(k))
            parts = [
                pinning.pin(
                    _verify_pairs(
                        cand.filter(chunk_col == i), hs, hs, threshold
                    ),
                    f"verify_chunk_{i}",
                )
                for i in range(k)
            ]
        for piece in parts:
            chunks.keep(piece)
    out = parts[0]
    for piece in parts[1:]:
        out = out.unionAll(piece)
    return out


def minhash_signature_frame(base: DataFrame, num_hashes: int = 128) -> DataFrame:
    """The persistable LSH artifact over a prepared (id, shingles) frame:
    (id, sz, hset, m0..m{num_hashes-1}).  ``sz`` is the shingle-set
    size, ``hset`` the 64-bit element hashes for the exact verify, and
    the ``m*`` columns the MinHash minima.  An incremental deployment
    computes this ONCE per corpus snapshot, writes it to a table, and
    band-joins each incoming batch's signatures against it
    (:func:`lsh_pairs_between`) — history texts are never re-shingled.
    """
    # Built from the round-16 two-frame shape (_hset_frame +
    # _mins_frame); the join restores the single-artifact schema this
    # function has always returned.  The map-side hash pass runs twice
    # here (once under the mins aggregate, once for the hset column) —
    # the artifact consumers (the incremental/persisted path) write the
    # result once and never rebuild, so the double pass is the price of
    # keeping the on-disk contract; the hot all-pairs path
    # (lsh_near_duplicates) uses the two frames directly and hashes
    # once.
    hs = _hset_frame(base)
    return (
        _mins_frame(hs, num_hashes)
        .join(hs.select("id", "hset"), "id")
        .select("id", "sz", "hset", *[f"m{j}" for j in range(num_hashes)])
    )


def _hset_frame(base: DataFrame) -> DataFrame:
    """(id, sz, hset) — one MAP-SIDE projection per document: ``sz`` the
    shingle-set size (the arrays are distinct-element by construction),
    ``hset`` the distinct 64-bit element hashes for the exact verify.

    This used to ride a ``collect_set`` inside the signature aggregate.
    collect_set is a TypedImperativeAggregate, so the whole signature
    build ran as ObjectHashAggregateExec — which falls back to
    SORT-based aggregation once its hash map passes
    ``spark.sql.objectHashAggregate.sortBased.fallbackThreshold``
    DISTINCT KEYS (default: 128!).  Every realistic partition crosses
    128 documents, so both the partial and the final aggregate
    externally sorted the entire exploded gram stream: at the mult=150
    rung (750k docs × ~2.2k char-5-grams ≈ 1.6B exploded rows) the
    concurrent per-task sort spills exhausted a 252 GB disk, and even
    the in-memory fallback sort cost 4–9× the aggregate's useful work
    at 50k docs (measured: 142 s shipped vs 15.7 s this shape).
    Raising the threshold instead would keep unmetered per-key set
    buffers on the heap (~2 GB/task at the rung — the exact unroll-OOM
    shape pinning.py exists to prevent).  A per-row transform keeps
    peak memory at ONE document's gram set and needs no aggregate at
    all; the interpreted-lambda cost is ~30 ns/gram (3.3 s for 110M
    grams), noise next to the sort it replaces."""
    return base.select(
        "id",
        F.expr("cast(size(shingles) as int)").alias("sz"),
        F.expr("array_distinct(transform(shingles, s -> xxhash64(s)))").alias(
            "hset"
        ),
    )


def _mins_frame(hs: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sz, m0..m{n-1}) — the MinHash minima from the exploded hash
    sets: 8-byte longs explode (never the gram strings), and with the
    set collection gone map-side (:func:`_hset_frame`) the aggregate is
    purely declarative — fixed-width buffers, whole-stage codegen
    HashAggregate, partial aggregation collapsing map-side, no
    object-aggregate fallback path at any scale.  ``sz`` rides as a
    grouping key (same cardinality as ``id``) so no second pass or
    join is needed to carry it."""
    hashed = hs.select("id", "sz", F.explode("hset").alias("h0")).select(
        "id",
        "sz",
        # fold into the Mersenne field ONCE here: the num_hashes
        # min-aggregates below all start from pmod(h0, p), and aggregate
        # update expressions don't get subexpression elimination
        F.expr(f"pmod(h0, {_MH_PRIME})").alias("h"),
    )
    # The wide repetitive expression blocks (num_hashes min-aggregates,
    # n_bands band-hash structs) are built as SQL strings: one py4j
    # round trip per expression instead of ~6 per Column operation —
    # Column-API construction of the same plan costs ~2.5 s of driver
    # time in socket chatter (profiled), which dominated re-planning.
    # pmod/xxhash64/concat_ws parse to the identical Catalyst nodes.
    mins = [
        F.expr(
            f"min(pmod({2 * j + 1} * h + "
            f"{2654435761 * (j + 1) % _MH_PRIME}, {_MH_PRIME})) AS m{j}"
        )
        for j in range(num_hashes)
    ]
    return hashed.groupBy("id", "sz").agg(*mins)


def _band_frame(sig: DataFrame, num_hashes: int, rows_per_band: int) -> DataFrame:
    """(id, sz, band_id, band_hash) — the signature frame exploded into
    its LSH bands.  Band hashes are n_bands explicit expressions over
    the min columns — pure codegen; the former transform/slice/
    array_join HOF form cost ~2ms/row interpreted, which dominated the
    whole pipeline.  One F.expr for the whole array: a single parse."""
    n_bands = num_hashes // rows_per_band
    band_structs = ", ".join(
        "named_struct('band_id', {j}, 'band_hash', xxhash64(concat_ws('_', {ms})))".format(
            j=j,
            ms=", ".join(
                f"cast(m{j * rows_per_band + r} as string)"
                for r in range(rows_per_band)
            ),
        )
        for j in range(n_bands)
    )
    band_arr = F.expr(f"array({band_structs})")
    return sig.select("id", "sz", F.explode(band_arr).alias("band")).select(
        "id", "sz", "band.band_id", "band.band_hash"
    )


def _ratio_ok(threshold: float):
    """Size-ratio prefilter in the join condition itself: jaccard <=
    min(|A|,|B|)/max(|A|,|B|), so these pairs cannot pass verification
    — dropped before the distinct, before any array is touched (the
    brute-force oracle applies the identical bound)."""
    return F.least(F.col("a.sz"), F.col("b.sz")).cast("double") >= F.lit(
        threshold
    ) * F.greatest(F.col("a.sz"), F.col("b.sz"))


def _verify_pairs(
    cand: DataFrame, sig_a: DataFrame, sig_b: DataFrame, threshold: float
) -> DataFrame:
    """Exact verify against the 64-bit hash sets from the signature
    frames (set-equivalent to the string shingle sets up to xxhash64
    collisions, p < 1e-10 at realistic set sizes): one array_intersect
    of fixed-width longs per surviving candidate."""
    sh_a = sig_a.select(F.col("id").alias("id_a"), F.col("hset").alias("sh_a"))
    sh_b = sig_b.select(F.col("id").alias("id_b"), F.col("hset").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b"))).cast("double")
    return (
        cand.join(sh_a, "id_a")
        .join(sh_b, "id_b")
        .withColumn("_inter", inter)
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("_inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def lsh_pairs_between(
    sig_left: DataFrame,
    sig_right: DataFrame,
    num_hashes: int = 128,
    rows_per_band: int = 2,
    threshold: float = 0.5,
    materialize: bool = True,
    pin_left=None,
    pin_right=None,
) -> DataFrame:
    """Cross-corpus LSH: near-dup pairs (id_a from ``sig_left``, id_b
    from ``sig_right``, jaccard) between two signature frames built by
    :func:`minhash_signature_frame` with the SAME ``num_hashes``.

    This is the incremental-dedup scale path: history signatures are
    computed once and persisted; each incoming batch band-joins its
    (small) signature frame against the history table — no history
    re-shingling, no history-history candidate pairs, and the banding
    shuffle carries only (band_hash, sz) per side.  Candidate recall
    and the exact-Jaccard verification are identical to the self-join
    core (same band hashes, same size-ratio prefilter).

    Each signature frame is consumed TWICE (the band join and the
    exact-verify join), so by default both are pinned
    (operators/pinning.py) — otherwise the full shingle/explode/
    minhash aggregate upstream of a lazily-built frame executes once
    per consumer, defeating the persisted-signature cost story.  A
    caller that passes frames already read from a stored signature
    table (the production shape) pays only a tiny id+minima cache;
    ``materialize=False`` keeps the plan lazy for inspection.
    ``pin_left``/``pin_right`` (df -> df) override HOW each side
    materializes — registry queries pass a keyed persist_deferred so a
    repeat run claims the stored signatures instead of re-shingling,
    the in-session analogue of the persisted history table."""
    sig_left = (
        pin_left(sig_left) if pin_left is not None
        else pinning.pin(sig_left, "lsh_sig_left", eager=materialize)
    )
    sig_right = (
        pin_right(sig_right) if pin_right is not None
        else pinning.pin(sig_right, "lsh_sig_right", eager=materialize)
    )
    a = _band_frame(sig_left, num_hashes, rows_per_band).alias("a")
    b = _band_frame(sig_right, num_hashes, rows_per_band).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & _ratio_ok(threshold),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    return _verify_pairs(cand, sig_left, sig_right, threshold)


# ---------------------------------------------------------------------------
# 3. SimHash — Java-hash based so external engines can reproduce it
# ---------------------------------------------------------------------------

def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """Sign-aggregated fingerprint over *distinct* token Java-hashes.

    For each bit b: count tokens whose hash has bit b set; the
    fingerprint has bit b set iff that count exceeds half the token
    count.  Uses the 32-bit Java hash (functions.keys.java_hash), so a
    SQL oracle can reproduce the value exactly; returns BIGINT.

    Implementation is explode → per-token hash → 32 conditional sums in
    one hash-aggregate.  (Not `transform(tokens, java_hash)`: PySpark
    names every lambda variable x/y/z, so nesting java_hash's internal
    `aggregate` inside another HOF lambda silently shadows the outer
    variable — an engine-level footgun; the explode form is also the
    shape that scales, since the per-doc work becomes map-side partial
    aggregation instead of one giant expression tree.)

    Documents with zero tokens produce no row (no content → no
    fingerprint)."""
    toks = df.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    # Arrow-vectorized Java hash (bit-exact with the expression form):
    # the per-character fold is CodegenFallback — per-token interpreted
    # evaluation dominated the fingerprint stage
    hashed = toks.select("id", java_hash_vec("tok").cast("bigint").alias("h"))
    aggs = [F.count("*").alias("n")]
    for b in range(bits):
        mask = 1 << b
        aggs.append(
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(mask)) != 0, 1).otherwise(0)
            ).alias(f"v{b}")
        )
    votes = hashed.groupBy("id").agg(*aggs)
    total = F.lit(0).cast("bigint")
    for b in range(bits):
        total = total + F.when(
            F.col(f"v{b}") * 2 > F.col("n"), F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return votes.select("id", total.alias("simhash"))


def simhash_pairs_from_fingerprints(
    fp: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    n_bands: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Multi-index simhash blocking over a (id, simhash) frame.

    The fingerprint is cut into ``n_bands`` disjoint bit bands
    (default ``max_hamming + 1``); a pair is a candidate if ANY band
    matches exactly.  Pigeonhole guarantees ZERO recall loss: with at
    most ``max_hamming`` differing bits and ``max_hamming + 1`` bands,
    at least one band contains no differing bit.  (A single prefix
    block misses any pair whose differing bits touch the prefix, and
    its n/2^prefix_bits blocks degrade to O(n²) joins at corpus scale;
    n_bands blocks of 2^(bits/n_bands) each keep buckets small and the
    join is a plain shuffle on (band_id, band_value) — AQE handles hot
    bands.)  Candidates are verified with exact Hamming distance, so
    the output equals brute force."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if bits % n_bands:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.shiftright(F.col("simhash"), i * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("_b"),
    ).select("id", "simhash", "_b.band_id", "_b.band_val")
    # both self-join sides read the fingerprint pipeline — run it once
    bands = pinning.pin(bands, "simhash_bands", eager=materialize)
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("hamming").cast("int").alias("hamming"),
        )
        .distinct()  # a pair can match in several bands
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    n_bands: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Pairs with Hamming distance <= max_hamming via multi-index
    banded blocking (see :func:`simhash_pairs_from_fingerprints`) —
    exact recall, no O(n²) block joins."""
    fp = simhash_fingerprints(df, text_col, id_col, bits)
    return simhash_pairs_from_fingerprints(fp, bits, max_hamming, n_bands, materialize)


# ---------------------------------------------------------------------------
# 4. n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    left: DataFrame,
    right: DataFrame,
    on: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Character-n-gram Jaccard for an explicit pair relation ``on``
    (e.g. consecutive ids, or candidate pairs from another blocker)."""
    # char_ngram_strings, not the HOF char_ngrams twin: the regex pass
    # stays in codegen and, unlike the per-position lambda, evaluates
    # lower(text) ONCE instead of at every gram position (O(len**2) on
    # a long document).  Output asserted identical in
    # tests/test_dedup_similarity.py.
    l = left.select(
        F.col(id_col).cast("bigint").alias("id_a"),
        char_ngram_strings(text_col, n).alias("ng_a"),
    )
    r = right.select(
        F.col(id_col).cast("bigint").alias("id_b"),
        char_ngram_strings(text_col, n).alias("ng_b"),
    )
    return (
        l.join(r, on)
        .withColumn("jaccard", F.round(_jaccard(F.col("ng_a"), F.col("ng_b")), 6))
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# 5. Embedding cosine near-dup
# ---------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    """Strict left-fold dot product — same operation order as the SQL
    oracle's list_reduce, so doubles agree bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL (not an ANSI DIVIDE_BY_ZERO error) for a
    zero-norm input.  Under Spark 4's default ANSI mode a plain `/`
    would abort the whole job on the first degenerate vector — at
    corpus scale one bad embedding must not kill a 1000-executor run.
    Consumers treat NULL as "not comparable": similarity filters drop
    it, top-k ranking excludes it (similarity._topk_per_query)."""
    return F.try_divide(_dot(a, b), F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def embedding_near_duplicates(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 16,
    dim: int = 64,
    materialize: bool = True,
) -> DataFrame:
    """Cosine near-dup pairs via hyperplane-LSH blocking + exact verify.

    Candidates share the full ``num_planes``-bit hyperplane signature —
    a (near-)duplicate pair (cos >= 0.95, angle <= 18°) flips any one
    plane with p = angle/pi ≈ 0.1, so we also join on signatures at
    Hamming distance <= 1 (signature ∪ one-bit-flips), giving recall
    ≈ 1-(1-(1-p)^16-16p(1-p)^15) ≈ 0.99995 for the verify step to
    finish exactly.  The hyperplanes are deterministic pseudo-random
    unit-free directions derived from xxhash64(plane, dim)."""
    base = df.select(
        F.col(id_col).cast("bigint").alias("id"), F.col(vec_col).alias("v")
    )

    # Hyperplane components are pure functions of (plane, dim) — computed
    # ONCE in Python (Java-hash based, deterministic; long seed strings
    # because short ones hash to small positive ints, collapsing every
    # component to ~-0.95 and making the hyperplanes near-parallel).
    # The num_planes projections are ONE dense matmul per Arrow batch in
    # a vectorized pandas UDF: a dense matrix product is exactly the
    # kernel BLAS exists for — the earlier per-plane aggregate/zip_with
    # fold is CodegenFallback (interpreted per element: planes × dim
    # lambda evaluations per row), and an unrolled SQL expression of the
    # same arithmetic blows up Catalyst/codegen compile time (measured
    # 12-36 s).  Sign choice only needs to be SELF-consistent for the
    # LSH recall math — both join sides read the same computed signature,
    # and candidate misses from fp-epsilon sign differences are covered
    # by the same 1-bit-probe tolerance as any other near-boundary
    # projection; the exact cosine verify below filters false positives.
    planes = np.array(
        [
            [
                (java_hash_py(f"hyperplane:{p}/dimension:{d}#seed") % 2000003)
                / 1000001.5
                - 1.0
                for d in range(dim)
            ]
            for p in range(num_planes)
        ]
    )  # (num_planes, dim) float64
    bits = 1 << np.arange(num_planes, dtype=np.int64)

    @pandas_udf(LongType())
    def _hyperplane_sig(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        # Null or wrong-length vectors get a NULL signature instead of
        # crashing np.stack — they then drop out of the (non-null) bucket
        # join below, matching the old zip_with/aggregate path where a
        # null vector folded to a null signature.
        ok = np.array(
            [x is not None and len(x) == dim for x in v], dtype=bool
        )
        out = pd.Series([None] * len(v), dtype="Int64")
        if ok.any():
            mat = np.stack(
                [np.asarray(x, dtype=np.float64) for x, k in zip(v, ok) if k]
            )
            out[ok] = ((mat @ planes.T) >= 0.0) @ bits
        return out

    signed = base.withColumn("sig", _hyperplane_sig(F.col("v")))
    # the signature frame feeds BOTH self-join sides; now that the
    # projection is a python-worker round trip (not pure arithmetic),
    # run it once (small frame: id + vector + 8-byte sig)
    signed = pinning.pin(signed, "hyperplane_sigs", eager=materialize)

    # bucket keys: the signature itself plus every one-bit flip
    probes = F.array(
        F.col("sig"),
        *[
            F.col("sig").bitwiseXOR(F.lit(1 << i).cast("bigint"))
            for i in range(num_planes)
        ],
    )
    exploded = signed.select("id", F.explode(probes).alias("bucket"))
    a = exploded.alias("a")
    b = signed.select("id", "sig").alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.sig")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # verify against the materialized frame, not a re-read of base —
    # the vectors ride the same cache as the signatures.  The norm is
    # hoisted per VECTOR here: the per-pair cosine otherwise folds
    # THREE 64-element aggregates (dot, |a|², |b|²) through the
    # interpreted HOF path, and two of them depend on one side only.
    # sqrt(dot(v,v)) yields the identical double whether computed per
    # row or per pair, so the verify value (and the oracle hash) is
    # unchanged while verify does a third of the fold work.
    vecs = signed.select("id", "v", F.sqrt(_dot(F.col("v"), F.col("v"))).alias("nrm"))
    verified = (
        cand.join(
            vecs.select(
                F.col("id").alias("id_a"),
                F.col("v").alias("v_a"),
                F.col("nrm").alias("nrm_a"),
            ),
            "id_a",
        )
        .join(
            vecs.select(
                F.col("id").alias("id_b"),
                F.col("v").alias("v_b"),
                F.col("nrm").alias("nrm_b"),
            ),
            "id_b",
        )
        .withColumn(
            "cos",
            F.try_divide(
                _dot(F.col("v_a"), F.col("v_b")), F.col("nrm_a") * F.col("nrm_b")
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )
    if not materialize:
        return verified
    return pinning.pin(verified, "cosine_verified")
