"""Edit-distance-1 vocabulary self-join via deletion neighborhoods
(extension tier — no reference counterpart; the scheme is the public
FastSS / SymSpell symmetric-delete blocking).

Why not brute force: an N-term vocabulary has N²/2 candidate pairs —
at a 100 M-term web-corpus vocabulary that is 5×10¹⁵ levenshtein
evaluations.  The deletion neighborhood of a term (the term plus every
single-character deletion) has L+1 members; two terms within edit
distance 1 ALWAYS share a neighborhood member:

- substitution at i: deleting position i from both sides yields the
  same string;
- insertion/deletion: the shorter term IS a deletion variant of the
  longer one (and every term's own surface form is in its
  neighborhood).

So an equi-join on exploded neighborhood keys is a SOUND AND COMPLETE
candidate generator for distance <= 1: O(N·L) keys shuffle instead of
O(N²) pairs, and the exact ``levenshtein`` check runs only on
candidates that share a key.  (For distance d the same scheme uses all
<=d-deletion variants; d=1 is the typo-canonicalization case shipped
here.)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import pinning


def deletion_neighborhood(col: Column | str) -> Column:
    """Array of the term plus each single-character-deletion variant
    (deduplicated — repeated characters collapse variants)."""
    t = F.col(col) if isinstance(col, str) else col
    dels = F.transform(
        F.sequence(F.lit(1), F.length(t)),
        lambda i: F.concat(
            t.substr(F.lit(1), i - F.lit(1)), t.substr(i + F.lit(1), F.length(t))
        ),
    )
    return F.array_union(F.array(t), dels)


def fuzzy_pairs(
    vocab: DataFrame, term_col: str = "term", position_keys: bool = False
) -> DataFrame:
    """All unordered pairs of DISTINCT vocabulary terms at levenshtein
    distance exactly 1, as (``a``, ``b``) with ``a < b``.

    Plan shape: one explode (N·(L+1) rows), one equi-join on the
    8-to-40-byte neighborhood key, a distinct over the candidate pairs
    (two variants of the same pair can collide on different keys), then
    the exact levenshtein filter — which runs on candidates only, never
    on the cross product.

    Hot keys are short variants shared by many terms ("a" is a
    deletion of every two-letter term containing an 'a'), and such a
    bucket joins quadratically while most of its candidates fail the
    exact check ("xa" and "ay" share variant "a" but are distance 2).
    ``position_keys=True`` is the production refinement: key on
    (variant, deletion POSITION).  Completeness holds because an
    equal-length distance-1 pair differs at exactly one position i, so
    deleting i from both sides emits the SAME (variant, i) key; and
    for a length±1 pair the longer term's (shorter, i) deletion key is
    matched by the shorter term's self-form, which is emitted at EVERY
    position 1..len+1.  The key count roughly doubles (2L+1 per term
    vs L+1), but a hot variant's quadratic bucket splits into
    per-position buckets whose candidates are mostly true pairs —
    measured under injected short-term skew by tools/scalecheck.py fuzzy.
    (An earlier docstring suggested banding on length(term) div 2;
    that is a NO-OP for this blocking — every term sharing variant v
    already has length len(v) or len(v)+1, and those two groups must
    join anyway for insertion pairs — so the positional key is the
    refinement that actually exists.)

    Both key shapes enumerate the identical pair set
    (property-pinned in tests/test_lines_fuzzy_ts.py); the default
    stays the plain variant for oracle replay simplicity."""
    v = vocab.select(F.col(term_col).alias("term")).filter(
        F.col("term").isNotNull() & (F.length("term") > 0)
    ).distinct()
    if not position_keys:
        nb = v.select(
            "term", F.explode(deletion_neighborhood("term")).alias("vkey")
        )
        join_cond = [F.col("l.vkey") == F.col("r.vkey")]
    else:
        t = F.col("term")
        dels = F.transform(
            F.sequence(F.lit(1), F.length(t)),
            lambda i: F.struct(
                F.concat(
                    t.substr(F.lit(1), i - F.lit(1)),
                    t.substr(i + F.lit(1), F.length(t)),
                ).alias("vkey"),
                i.alias("pos"),
            ),
        )
        selfs = F.transform(
            F.sequence(F.lit(1), F.length(t) + F.lit(1)),
            lambda j: F.struct(t.alias("vkey"), j.alias("pos")),
        )
        nb = (
            v.select("term", F.explode(F.concat(dels, selfs)).alias("k"))
            .select("term", F.col("k.vkey").alias("vkey"), F.col("k.pos").alias("pos"))
            .distinct()
        )
        join_cond = [
            F.col("l.vkey") == F.col("r.vkey"),
            F.col("l.pos") == F.col("r.pos"),
        ]
    left = nb.alias("l")
    right = nb.alias("r")
    cand = (
        left.join(right, join_cond)
        .filter(F.col("l.term") < F.col("r.term"))
        .select(F.col("l.term").alias("a"), F.col("r.term").alias("b"))
        .distinct()
    )
    return cand.filter(F.levenshtein("a", "b") == 1)


def canonicalize_vocab(
    vocab: DataFrame,
    term_col: str = "term",
    id_fn: str = "rank",
    position_keys: bool = False,
) -> DataFrame:
    """End-to-end vocabulary canonicalization: distance-1 pairs
    (:func:`fuzzy_pairs`) become edges, connected components collapse
    typo chains (a→b→c variants land in ONE cluster even when a and c
    are distance 2 apart), and every term maps to its cluster's
    lexicographically-smallest member.

    ``id_fn`` selects the numeric node ids the CC loop runs on:

    * ``"rank"`` (default) — a global row_number over the DISTINCT
      vocabulary (bounded-global-window-ok: dictionary-sized by
      construction, never the corpus), byte-exact-replayable in a SQL
      oracle.
    * ``"xxhash64"`` — hashed ids, the web-vocabulary-scale swap (no
      global window at all); an id collision would merge two unrelated
      terms, probability-bounded by n_terms²/2^65.

    The OUTPUT is invariant to the id scheme because the canonical
    member is reduced from the TERM STRINGS per cluster (min(term)
    over the cluster partition), never from id order — pinned equal
    for both id_fns in tests/test_lines_fuzzy_ts.py.

    Returns (term, canonical, cluster_size)."""
    if id_fn not in ("rank", "xxhash64"):
        raise ValueError(f"id_fn must be 'rank' or 'xxhash64', got {id_fn!r}")
    from pyspark.sql import Window

    from .graph import connected_components

    v = pinning.pin(
        vocab.select(F.col(term_col).alias("term"))
        .filter(F.col("term").isNotNull() & (F.length("term") > 0))
        .distinct(),
        "fuzzy_vocab",
    )
    if id_fn == "rank":
        # Ranks the distinct VOCAB (dictionary-sized by construction,
        # never the corpus) WINDOW-FREE: one sorted-array fold +
        # posexplode instead of a global row_number window — same
        # single-partition movement on a dictionary-sized frame, but
        # the WindowExec "No Partition Defined" warning never fires and
        # stays a real unbounded-window signal elsewhere.  (rank mode
        # is the oracle-replayable id space; production uses
        # id_fn="xxhash64", which never materializes the vocab in one
        # row.)
        ids = (
            v.agg(F.array_sort(F.collect_list("term")).alias("_a"))
            .select(F.posexplode("_a").alias("_p", "term"))
            .select("term", (F.col("_p") + 1).cast("bigint").alias("tid"))
        )
    else:
        ids = v.select("term", F.xxhash64("term").alias("tid"))
    pairs = fuzzy_pairs(v, term_col="term", position_keys=position_keys)
    edges = (
        pairs.join(ids.withColumnRenamed("term", "a"), "a")
        .withColumnRenamed("tid", "id_a")
        .join(
            ids.withColumnRenamed("term", "b").withColumnRenamed("tid", "id_b"),
            "b",
        )
        .select("id_a", "id_b")
    )
    labels = connected_components(edges)
    mapped = ids.join(labels, ids.tid == labels.id, "left").select(
        "term", F.coalesce("cluster_id", "tid").alias("cluster_id")
    )
    # canonical = min TERM per cluster (id-scheme-invariant); singleton
    # clusters (no edges) keep their own term
    wc = Window.partitionBy("cluster_id")
    return (
        mapped.select(
            "term",
            F.min("term").over(wc).alias("canonical"),
        )
        .select(
            "term",
            "canonical",
            F.count(F.lit(1))
            .over(Window.partitionBy("canonical"))
            .cast("bigint")
            .alias("cluster_size"),
        )
    )
