"""Deterministic corpus sampling — training-data curation operators
beyond the reference surface (task brief: large-scale pipeline ops).

``top_k_per_group`` solves "keep N documents per domain/source/language"
— the few-groups × huge-rows shape where a naive ranking window is a
scale trap: ``Window.partitionBy(source)`` funnels each group's ENTIRE
row set through one task.  Instead the top-K is computed in two phases,
like ``TakeOrderedAndProject`` generalized per group:

  1. per-input-partition local top-K (a row_number window keyed on
     (group, partition_id) — fully parallel, shuffles only the
     (group, order) projection, never the payload).  Sort-based, so
     per-task state is the external sort's spillable buffer — an
     earlier collect_list formulation instead pinned every (group,
     task) value in the aggregation hash map, bounded by partition
     size rather than by K and unable to spill;
  2. global top-K over the reduced candidate set (≤ K × n_partitions
     rows per group — the ranking window now runs on a tiny frame);
  3. semi-join the winners back to the full rows (broadcast-sized:
     K × n_groups keys).

Deterministic by construction (ordering on a unique key), so the result
is reproducible and oracle-comparable — the property a training corpus
snapshot needs.
"""

from __future__ import annotations

import functools
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import pinning


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
) -> DataFrame:
    """The ``k`` rows with the smallest ``order_col`` per ``group_col``
    (``order_col`` values must be unique, e.g. a document id)."""
    wl = Window.partitionBy(group_col, "_p").orderBy(order_col)
    local = (
        df.select(group_col, order_col)
        .withColumn("_p", F.spark_partition_id())
        # partition-local candidates: at most k survive per (group, task)
        .withColumn("_rk", F.row_number().over(wl))
        .filter(F.col("_rk") <= k)
        .select(group_col, order_col)
    )
    w = Window.partitionBy(group_col).orderBy(order_col)
    winners = (
        local.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )
    # winners is K × n_groups rows — broadcast it so the corpus-side scan
    # never shuffles
    return df.join(F.broadcast(winners), on=[group_col, order_col], how="left_semi")


#: Multiplicative (Fibonacci) id-hash for mixture sampling.  The bucket
#: takes the HIGH bits of ``(id mod 2^31) * PRIME mod 2^31`` — a real
#: multiplicative hash, unlike a ``(id*prime) mod 100`` bucket, which is
#: an affine PERMUTATION of ``id mod 100`` (prime mod 100 is a unit) and
#: therefore deterministically coupled to any other mod-100 decision
#: such as the train/val/test split.  High-bit extraction makes the
#: bucket depend on the full id, decorrelating it from the split.  The
#: mod-2^31 domain keeps ``(id mod M) * PRIME`` inside int64 (2^31 *
#: 2246822519 < 2^63), so the arithmetic is exact and identical in
#: Spark (non-ANSI or ANSI) and DuckDB — no silent wrap, no widen/error
#: divergence.
_MIX_PRIME = 2246822519
_MIX_DOMAIN = 2**31
#: Distinct multiplier for SHARD layout (Knuth's golden-ratio prime).
#: It must differ from _MIX_PRIME: keep-decisions (mixture_sample,
#: rank_importance_sample) consume the _MIX_PRIME hash, so any stage
#: reusing that hash downstream inherits its selection bias — a
#: rank^2-sampled corpus keeps exactly the LOW-hash documents, and
#: sharding by the same hash would pile them into the low shards (a
#: measured 24x shard skew before this constant existed; see
#: tools/scalecheck.py qsnap / SCALE.md round 9).
_SHARD_PRIME = 2654435761


#: Boundary-sample oversampling: ~20 deterministic key samples per
#: bucket (Spark's own RangePartitioner uses the same factor).  The
#: driver pull is bounded at ``n_buckets * 20`` narrow key tuples.
_BOUND_SAMPLES_PER_BUCKET = 20


#: Optimized-plan node names that mark a two-phase narrow input as
#: EXPENSIVE to recompute: anything that implies a shuffle (join,
#: aggregate, window, sort, distinct) or a JVM↔Python boundary.  A
#: map-only lineage (scan + project + filter) is cheaper to re-run
#: than to cache — measured: persisting the trivially-recomputable
#: inputs of sequence_packing / token_budget_mixture cost +0.4–0.6 s
#: each at sf0.1, while persisting the join/window-bearing inputs of
#: perplexity_buckets (−0.9 s) and the composed pipeline's
#: shuffle_shards-over-assign_packs (−4.1 s, variance collapsed) won.
_EXPENSIVE_NODES = (
    "Join", "Aggregate", "Window", "Sort", "Deduplicate",
    "ArrowEval", "BatchEval", "MapInArrow", "MapInPandas", "FlatMapGroups",
)


def _pin_branch_input(df: DataFrame) -> DataFrame:
    """Persist (lineage KEPT) the narrow input of a two-phase shape —
    IF recomputing it is demonstrably more expensive than caching it.

    The two-phase rank/cumsum/prefix-sum family consumes its narrow
    (key, group, value) input THREE times — the bounded boundary-sample
    pass, the per-(group, bucket) counts branch, and the probe branch —
    and round 14 removed the lazy ``localCheckpoint`` that used to
    deduplicate those executions because its replication-1,
    lineage-truncated blocks made any executor loss fatal.  The
    measured price was ~2× wall on the two-phase queries (SCALE.md
    round 14).  The round-15 fix is a lazy pin (a ``persist``) —
    lineage is KEPT, so the round-14 fault-tolerance argument is
    untouched (a lost block recomputes from lineage, and the
    deterministic bucket expression guarantees every recomputation
    agrees by construction); the cache merely stops the healthy path
    from paying the upstream three times.

    The pin is CONDITIONAL on the input's optimized plan containing a
    shuffle-inducing or Python-boundary operator
    (:data:`_EXPENSIVE_NODES`) — the same recompute-vs-materialize
    criterion as operators/pinning.py, applied to lineage shape instead
    of size: re-running a map-only projection of a columnar scan three
    times is cheaper than building the columnar cache once (guide §5 —
    persist only when recompute costs more than the memory pressure).
    When the plan is unreadable (Connect-style sessions without
    ``_jdf``) the pin is applied — the conservative direction for the
    expensive-upstream case.

    The pin is a lazy :func:`pinning.pin`, released with the caller's
    pin scope."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        if not any(n in plan for n in _EXPENSIVE_NODES):
            return df
    except Exception:
        pass
    return pinning.pin(df, "branch_input", eager=False)


def _norm_order(order_cols) -> list[tuple[str, bool]]:
    """Normalize an order spec to ``[(column_name, descending)]``.
    Entries are plain strings (ascending, Spark's default NULLS FIRST)
    or ``(name, True)`` tuples (descending NULLS LAST — the only
    descending flavor any caller uses)."""
    spec = []
    for e in order_cols:
        if isinstance(e, str):
            spec.append((e, False))
        else:
            name, desc = e
            spec.append((name, bool(desc)))
    return spec


def _sort_exprs(spec: list[tuple[str, bool]]) -> list[Column]:
    return [
        F.col(n).desc_nulls_last() if d else F.col(n).asc() for n, d in spec
    ]


def _key_cmp(spec: list[tuple[str, bool]]):
    """Driver-side comparator matching Spark's sort order for the
    spec: asc = NULLS FIRST, desc = NULLS LAST, NaN greater than every
    number and equal to itself (Spark's ordering semantics).  String
    comparison agrees byte-for-byte: Python compares code points and
    UTF-8 byte order preserves code-point order."""

    def _nan(v):
        return isinstance(v, float) and math.isnan(v)

    def cmp(a, b):
        for i, (_, desc) in enumerate(spec):
            x, y = a[i], b[i]
            if x is None and y is None:
                continue
            if x is None:
                return 1 if desc else -1
            if y is None:
                return -1 if desc else 1
            if _nan(x) or _nan(y):
                if _nan(x) and _nan(y):
                    continue
                lt = not _nan(x)  # non-NaN < NaN
            elif x == y:
                continue
            else:
                lt = x < y
            if lt:
                return 1 if desc else -1
            return -1 if desc else 1
        return 0

    return cmp


def _sample_bounds(
    df: DataFrame, spec: list[tuple[str, bool]], n_buckets: int
) -> list[tuple]:
    """``n_buckets - 1`` DETERMINISTIC range-boundary key tuples for
    the sort ``spec`` over ``df`` — the replacement for
    ``repartitionByRange``'s per-RDD-seed reservoir sample.  One
    aggregation pass: rows hash (xxhash64, fixed seed — run-stable) into
    ``n_buckets * 20`` slots and each slot keeps its min-hash row's key
    tuple (the hash is independent of the sort key, so slot winners are
    an unbiased key sample); the ≤ slot-count winners are collected
    (bounded driver pull by construction), sorted under the spec's
    comparator, and evenly spaced quantiles become the boundaries.

    Boundary QUALITY only affects balance, never results: the bucket
    expression built from these is a pure deterministic function of the
    row, so every recomputation — the counts branch, the probe branch,
    a lost-partition replay — agrees by construction.  That removes the
    round-13 exchange-reuse trap at the root (no shared physical
    partitioning to pin) and with it the lazy-localCheckpoint guard
    whose executor-local replication-1 blocks made any executor loss
    fatal at cluster scale."""
    cols = [n for n, _ in spec]
    m = max(n_buckets * _BOUND_SAMPLES_PER_BUCKET, 1)
    h = F.xxhash64(*cols)
    winner = F.min(
        F.struct(
            F.xxhash64(F.lit("tp-bound"), *cols).alias("_r"),
            *[F.col(c) for c in cols],
        )
    ).alias("_s")
    rows = (
        df.groupBy(F.pmod(h, F.lit(m)).alias("_slot"))
        .agg(winner)
        .select("_s.*")
        .drop("_r")
        .collect()  # driver-ok: <= n_buckets * 20 narrow key tuples
    )
    cmp = _key_cmp(spec)
    vals = sorted((tuple(r) for r in rows), key=functools.cmp_to_key(cmp))
    bounds: list[tuple] = []
    for i in range(1, n_buckets):
        b = vals[(i * len(vals)) // n_buckets] if vals else None
        if b is not None and (not bounds or cmp(bounds[-1], b) != 0):
            bounds.append(b)
    return bounds


def _bound_le_expr(
    bound: tuple, spec: list[tuple[str, bool]]
) -> Column:
    """True iff the boundary tuple sorts at-or-before the row's key
    under the spec's lexicographic order, never NULL — NULL key cells
    compare per the per-column null placement (asc NULLS FIRST / desc
    NULLS LAST), exactly like the sort itself."""
    expr = F.lit(True)
    for (name, desc), bv in reversed(list(zip(spec, bound))):
        c = F.col(name)
        if bv is None:
            if desc:  # NULL sorts last: boundary <= c only at equality
                lt, eq = F.lit(False), c.isNull()
            else:  # NULL sorts first: strictly before any non-NULL
                lt, eq = c.isNotNull(), c.isNull()
        else:
            lit = F.lit(bv)
            if desc:  # b before c iff b > c; NULL c sorts last
                lt = F.coalesce(lit > c, F.lit(True))
            else:  # asc: NULL c sorts first, so never after b
                lt = F.coalesce(lit < c, F.lit(False))
            eq = c.eqNullSafe(lit)
        expr = lt | (eq & expr)
    return expr


def _bucket_tree(
    bounds: list[tuple], spec: list[tuple[str, bool]], lo: int, hi: int
) -> Column:
    """Balanced binary-search CASE tree: bucket(key) = number of
    boundaries sorting at-or-before the key.  O(d·log B) comparisons
    per row in whole-stage codegen — cheap enough to run map-side on
    the full scan even at thousands of buckets."""
    if lo >= hi:
        return F.lit(lo)
    mid = (lo + hi) // 2
    return F.when(
        _bound_le_expr(bounds[mid], spec), _bucket_tree(bounds, spec, mid + 1, hi)
    ).otherwise(_bucket_tree(bounds, spec, lo, mid))


def _det_range_bucket(
    df: DataFrame,
    spec: list[tuple[str, bool]],
    n_buckets: int,
    out: str = "_tp_b",
) -> DataFrame:
    """``df`` plus a deterministic range-bucket column ``out`` —
    monotone (weakly) in the spec's sort order, 0..n_buckets-1, a PURE
    EXPRESSION of the row against broadcast boundary literals.

    No pin, by design: because the bucket is a pure function of the
    row, the boundary-sample pass, the counts branch, the probe
    branch, and any lost-partition replay all agree WITHOUT sharing a
    materialization — full lineage, fault-tolerant (the former
    localCheckpoint's truncated-lineage replication-1 blocks turned
    any executor loss into job failure), and no cache boundary hiding
    the upstream plan from AQE or the plan audit.  The trade is that
    the input lineage runs up to 3x (sample + counts + probe); every
    caller passes a NARROW projection, and callers with expensive
    upstreams pin them per the repo convention (the composed pipeline
    checkpoints each stage; perplexity's LM scores materialize) — so
    the recompute is a cheap scan, never the heavy stage."""
    bounds = _sample_bounds(df, spec, n_buckets)
    if not bounds:
        return df.withColumn(out, F.lit(0))
    return df.withColumn(
        out, _bucket_tree(bounds, spec, 0, len(bounds))
    )


def _two_phase_rank(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list,
    out: str = "_rank",
    total_col: str | None = None,
) -> DataFrame:
    """EXACT global 1-based rank of ``order_cols`` within each
    ``part_cols`` group, computed WITHOUT a per-group window — the
    skew-safe replacement for ``row_number().over(partitionBy(group))``
    when one group can be corpus-sized (a single funnel task at 100 TB,
    the round-12 verdict's last two flagged shapes):

    1. assign each row a DETERMINISTIC range bucket on the full
       (group, order) key (:func:`_det_range_bucket` — broadcast
       boundary literals from one bounded sample pass, binary-search
       comparison expression, map-side), so a mega-group spans MANY
       buckets instead of collapsing into one reducer;
    2. per-(group, bucket) row counts — a partial-aggregating groupBy
       whose result is tiny (buckets are order-contiguous, so it has
       at most n_groups + n_buckets rows);
    3. running-sum offsets over that tiny frame (the only window left
       runs on counts, not rows);
    4. join the offsets back (AQE picks broadcast when small — not
       forced, so a many-strata offsets frame degrades to a shuffle
       join instead of an OOM) and add a BUCKET-LOCAL row_number:
       ``rank = offset + local_rank``.

    Exactness: ``order_cols`` must end in a unique NON-NULL key —
    every caller orders by (..., id) and joins the result back to the
    payload by that id, so a NULL id would both break the total order
    and drop out of the caller's equi join-back; entries are strings
    (ascending) or ``(name, True)`` for descending NULLS LAST, and the
    bucket expression's weak monotonicity in the sort order makes
    offset + local rank equal the single-window global rank
    bit-for-bit — same oracle, flat wall under a 90%-hot group
    (tools/scalecheck.py shard_rank).

    NULL GROUP VALUES are preserved as their own group, matching the
    window form this replaces: the offsets come back through a
    NULL-SAFE equi join (round-14 fix — a plain inner join silently
    dropped NULL-group rows).

    Determinism and fault tolerance (round 14): because the bucket is
    a pure function of the row, the counts branch, the probe branch,
    and any recomputation after executor loss agree by construction —
    no shared physical partitioning exists to desynchronize, so the
    round-13 lazy-localCheckpoint pin (executor-local, replication-1,
    lineage-truncated: any executor loss failed the job) is gone.  The
    narrow input is instead persisted WITH lineage
    (:func:`_pin_branch_input`, round 15): the three consumers (one
    bounded key-column sample + the counts and probe branches) read the
    cache on the healthy path — recovering the ~2× wall the round-14
    uncached form paid (SCALE.md) — while a lost block recomputes from
    full lineage and, the bucket being a pure row expression, agrees by
    construction.

    ``total_col`` additionally attaches each group's TOTAL row count —
    free, from the same tiny counts frame (percent_rank's denominator
    without a second pass over the rows)."""
    n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ospec = _norm_order(order_cols)
    spec = [(c, False) for c in part_cols] + ospec
    df = _pin_branch_input(df)
    rep = _det_range_bucket(df, spec, n_buckets)
    counts = rep.groupBy(*part_cols, "_tp_b").agg(
        F.count(F.lit(1)).alias("_tp_cnt")
    )
    wo = Window.partitionBy(*part_cols).orderBy("_tp_b")
    off_cols = [
        (F.sum("_tp_cnt").over(wo) - F.col("_tp_cnt")).alias("_tp_off")
    ]
    if total_col:
        wt = Window.partitionBy(*part_cols)
        off_cols.append(F.sum("_tp_cnt").over(wt).alias(total_col))
    offsets = counts.select(
        *[F.col(c).alias(f"_tpo_{c}") for c in part_cols],
        F.col("_tp_b").alias("_tpo_b"),
        *off_cols,
    )
    cond = F.col("_tp_b") == F.col("_tpo_b")
    for c in part_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_tpo_{c}"))
    wl = Window.partitionBy(*part_cols, "_tp_b").orderBy(*_sort_exprs(ospec))
    return (
        rep.join(offsets, cond)
        .withColumn(
            out,
            (F.col("_tp_off") + F.row_number().over(wl)).cast("bigint"),
        )
        .drop("_tp_b", "_tp_off", "_tpo_b", *[f"_tpo_{c}" for c in part_cols])
    )


def _two_phase_cumsum(
    df: DataFrame,
    part_cols: list[str],
    order_cols: list,
    value_col: str,
    out: str = "_cum",
) -> DataFrame:
    """EXACT inclusive running sum of ``value_col`` (bigint) in
    ``order_cols`` order within each ``part_cols`` group — the
    prefix-sum sibling of :func:`_two_phase_rank`, same shape and same
    exactness argument: deterministic range bucket, per-(group, bucket)
    partial SUMS (tiny), running-sum offsets over that counts frame
    through a NULL-SAFE join, then a bucket-LOCAL running window;
    ``cum = offset + local running sum``.  No per-group window
    anywhere, so one group holding most of the corpus costs its shuffle
    share, never one task.  The pure-expression bucket carries
    :func:`_two_phase_rank`'s determinism-by-construction argument (see
    there — the round-13 checkpoint pin this replaces was first needed
    here)."""
    n_buckets = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    ospec = _norm_order(order_cols)
    spec = [(c, False) for c in part_cols] + ospec
    df = _pin_branch_input(df)
    rep = _det_range_bucket(df, spec, n_buckets)
    val = F.col(value_col).cast("bigint")
    sums = rep.groupBy(*part_cols, "_tp_b").agg(
        F.sum(val).alias("_tp_s")
    )
    wo = Window.partitionBy(*part_cols).orderBy("_tp_b")
    offsets = sums.select(
        *[F.col(c).alias(f"_tpo_{c}") for c in part_cols],
        F.col("_tp_b").alias("_tpo_b"),
        (F.sum("_tp_s").over(wo) - F.col("_tp_s")).alias("_tp_off"),
    )
    cond = F.col("_tp_b") == F.col("_tpo_b")
    for c in part_cols:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_tpo_{c}"))
    wl = (
        Window.partitionBy(*part_cols, "_tp_b")
        .orderBy(*_sort_exprs(ospec))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        rep.join(offsets, cond)
        .withColumn(out, F.col("_tp_off") + F.sum(val).over(wl))
        .drop("_tp_b", "_tp_off", "_tpo_b", *[f"_tpo_{c}" for c in part_cols])
    )


def fibonacci_bucket(key_col: str, buckets: int = 100):
    """The 0..buckets-1 bucket of the Fibonacci id-hash — the shared
    deterministic uniform behind mixture_sample / rank_importance_sample
    / shuffle_shards.  Use it wherever a split must be DECORRELATED
    from modular id sampling (``id % N`` subsets hit every bucket
    proportionally, while a ``id % k`` split degenerates under an
    ``id % N`` sample whenever k divides N — the empty-train-set trap
    the NB classifier's original mod-5 split fell into under the
    harness's mod-10 corpus sampling)."""
    h = F.pmod(
        F.pmod(F.col(key_col).cast("bigint"), F.lit(_MIX_DOMAIN)) * F.lit(_MIX_PRIME),
        F.lit(_MIX_DOMAIN),
    )
    return F.floor(h * F.lit(buckets) / F.lit(_MIX_DOMAIN)).cast("int")


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    strat_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 1.0,
) -> DataFrame:
    """Deterministic mixture sampling: keep each stratum (source,
    language, domain, ...) at its configured rate — how a training mix
    downweights over-represented slices without an RNG.

    The keep-decision is ``bucket(id) < rate*100`` where ``bucket`` is
    the top bits of a Fibonacci (multiplicative) hash — see
    ``_MIX_PRIME`` for why high-bit extraction (not a mod-100 of the
    product) is required for the bucket to be decorrelated from the
    mod-100 train/val/test split.  It is reproducible across runs and
    engines (no seed state, exact int64 arithmetic in both Spark and
    DuckDB), stable under corpus growth (a surviving document survives
    every rerun), and **fully map-side**: the rate table rides along as
    a literal map expression, so the scan filters in place — zero
    shuffles, zero joins, works unchanged on 100 TB.

    Rates are fractions in [0, 1]; strata absent from ``rates`` keep
    ``default_rate``.  Rate granularity is 1% (100 buckets) — EXACTLY:
    each rate becomes the INTEGER threshold ``round(rate*100)`` before
    the comparison, because ``bucket < rate * 100`` as a double compare
    keeps one extra bucket whenever the x100 product rounds up in IEEE
    (0.07*100 == 7.000000000000001 would pass 8 buckets, and both
    engines compute the same double, so no differential gate could
    ever catch it)."""
    entries = [
        f
        for k, v in sorted(rates.items())
        for f in (F.lit(k), F.lit(int(round(v * 100))))
    ]
    threshold = F.coalesce(
        F.element_at(F.create_map(*entries), F.col(strat_col)),
        F.lit(int(round(float(default_rate) * 100))),
    )
    h = F.pmod(
        F.pmod(F.col(key_col).cast("bigint"), F.lit(_MIX_DOMAIN)) * F.lit(_MIX_PRIME),
        F.lit(_MIX_DOMAIN),
    )
    # high bits: (h * 100) div 2^31 — h*100 < 2^38 so the double
    # division is exact (< 2^53) and floor() is the integer quotient
    bucket = F.floor(h * F.lit(100) / F.lit(_MIX_DOMAIN)).cast("bigint")
    return df.filter(bucket < threshold)


def stratified_percent_rank(
    df: DataFrame,
    group_col: str,
    score_col: str,
    id_col: str,
    out_col: str = "pct_rank",
) -> DataFrame:
    """Per-stratum percentile rank of a score — the normalization step
    before "keep the top X% of each source" curation thresholds (a raw
    score cutoff over-prunes weak sources and under-prunes strong ones).

    Ordering is (score, id) — a TOTAL order — so tied scores get
    deterministic distinct ranks and the output is reproducible and
    oracle-comparable: ``pct = (rank - 1) / (n - 1)`` is bit-identical
    to SQL ``percent_rank()`` under a total order (both engines do the
    same double division), 0.0 for a single-row stratum.

    Scale shape (round 13): the rank comes from :func:`_two_phase_rank`
    over the NARROW (id, group, score) projection, joined back by id —
    no per-stratum window, so the named use case (per-SOURCE percentile
    normalization, where strata are FEW and HUGE) costs each stratum
    its shuffle share instead of one funnel task; the payload crosses
    the wire once, in the join-back, exactly like the old window
    exchange.  Corpora that can tolerate approximate cutoffs can skip
    the rank entirely via approximate quantile thresholds."""
    narrow = df.select(id_col, group_col, score_col)
    ranked = _two_phase_rank(
        narrow, [group_col], [score_col, id_col], out="_r", total_col="_n"
    )
    pct = ranked.select(
        id_col,
        F.when(
            F.col("_n") > 1,
            F.round((F.col("_r") - 1) / (F.col("_n") - 1), 6),
        )
        .otherwise(F.lit(0.0))
        .alias(out_col),
    )
    return df.join(pct, id_col).select(*df.columns, out_col)


def shuffle_shards(
    df: DataFrame,
    n_shards: int,
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic corpus shuffle into training shards — the last
    step before a training run: break id-order locality (near ids are
    near-duplicates' favorite hiding place) WITHOUT an RNG, so the
    shard layout is reproducible run-to-run and engine-to-engine.

    ``shard = high-bits multiplicative hash of the id`` — under the
    DEDICATED shard multiplier (``_SHARD_PRIME``), NOT the keep-
    decision hash: a corpus that reached this operator through
    mixture/rank sampling consists exactly of low-``_MIX_PRIME``-hash
    ids, so sharding by that same hash measurably piles survivors into
    the low shards (24x skew, tools/scalecheck.py qsnap).  ``pos``
    numbers rows WITHIN a shard by (hash, id).

    Scale shape (round 13): ``pos`` is a :func:`_two_phase_rank` over
    the narrow (id, hash, shard) projection, joined back by id — the
    old per-shard ``row_number`` window sorted ALL of a shard's rows in
    ONE task (100 GB+ per task at 8-1024 shards over 100 TB, the same
    single-funnel class hunted everywhere else); now a shard's rank
    work spreads across every range bucket it spans and the payload
    still crosses the wire exactly once (the join-back replaces the
    window exchange).  A writer then partitions by ``shard`` and orders
    by ``pos``.

    Returns the input columns plus (shard int, pos bigint)."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    h = F.pmod(
        F.pmod(F.col(key_col).cast("bigint"), F.lit(_MIX_DOMAIN))
        * F.lit(_SHARD_PRIME),
        F.lit(_MIX_DOMAIN),
    )
    narrow = df.select(F.col(key_col), h.alias("_h")).withColumn(
        "shard",
        F.floor(F.col("_h") * n_shards / F.lit(_MIX_DOMAIN)).cast("int"),
    )
    pos = _two_phase_rank(
        narrow, ["shard"], ["_h", key_col], out="pos"
    ).select(key_col, "shard", "pos")
    return df.join(pos, key_col).select(*df.columns, "shard", "pos")


def rank_importance_sample(
    df: DataFrame,
    rank_col: str,
    key_col: str,
    power: int = 1,
    keep_col: str = "keep",
) -> DataFrame:
    """Deterministic importance sampling on a [0, 1] quality rank: each
    row is kept with probability ``rank^power`` — the CCNet/GPT-3
    "sample by quality" recipe with the raw classifier score replaced
    by its (per-stratum) percentile rank, which needs no calibration
    and tilts the kept corpus toward high-quality rows (power=1 keeps
    ~half, linearly weighted; higher powers sharpen the tilt; the
    expected keep fraction is 1/(power+1)).

    Cross-engine exact by construction: the rank is an integer ratio,
    ``power`` is a small integer applied by repeated multiplication
    (no libm ``pow`` — both engines produce the identical double), and
    the uniform is the same Fibonacci id-hash bucket as
    :func:`mixture_sample`, here at full 2^31 resolution (``h / 2^31``
    is exact — h < 2^31 << 2^53).  Map-side, zero shuffles beyond
    whatever produced the rank.  Emits ``keep`` 0/1 (rows retained so
    the decision itself is auditable/gateable; filter on it to
    materialize the sampled corpus)."""
    if not isinstance(power, int) or power < 1:
        raise ValueError(f"power must be a positive integer, got {power!r}")
    h = F.pmod(
        F.pmod(F.col(key_col).cast("bigint"), F.lit(_MIX_DOMAIN)) * F.lit(_MIX_PRIME),
        F.lit(_MIX_DOMAIN),
    )
    u = h / F.lit(float(_MIX_DOMAIN))
    p = F.col(rank_col)
    for _ in range(power - 1):
        p = p * F.col(rank_col)
    return df.withColumn(keep_col, (u < p).cast("int"))


def temperature_mixture(
    df: DataFrame,
    alpha: float = 0.5,
    strat_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based mixture sampling: stratum ``s`` with ``n_s``
    rows keeps rate ``(n_min / n_s)^(1-alpha)``, so the kept sizes are
    proportional to ``n_s^alpha`` — the multilingual-LM rebalancing rule
    (alpha=1 keeps the natural distribution, alpha=0 equalizes strata,
    alpha~0.3-0.7 is the usual compromise).  The smallest stratum always
    keeps everything; larger strata downsample deterministically.

    Unlike :func:`mixture_sample` the rates are DERIVED FROM THE DATA:
    one tiny counts aggregate (|strata| rows) broadcasts back onto the
    scan, so the pass stays one narrow shuffle + a map-side filter —
    no driver-side collect, no second scan.  The keep-decision reuses
    the Fibonacci high-bit bucket over 10,000 slots (0.01% rate
    granularity) with an integer threshold ``floor(rate * 10000)``.

    alpha=0.5 computes the rate via ``sqrt``, which IEEE requires to be
    correctly rounded — bit-identical across engines, so the
    differential gate is exact; other alphas go through ``pow``, whose
    last-ulp behavior is libm-specific (fine in production, not
    oracle-exact)."""
    counts = df.groupBy(strat_col).agg(F.count("*").alias("_n"))
    # counts feeds BOTH nmin and the thresholds frame — without a
    # materialization point the full corpus count scan can execute
    # twice (exchange reuse across a self-join is not guaranteed, see
    # operators/pinning.py); the frame is |strata| rows, so the
    # eager checkpoint is ~free
    counts = pinning.pin(counts, "strata_counts")
    nmin = counts.agg(F.min("_n").alias("_nmin"))
    ratio = F.col("_nmin") / F.col("_n")
    rate = (
        F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    )
    thresholds = counts.crossJoin(F.broadcast(nmin)).select(
        strat_col, F.floor(rate * 10000).cast("bigint").alias("_thr")
    )
    h = F.pmod(
        F.pmod(F.col(key_col).cast("bigint"), F.lit(_MIX_DOMAIN)) * F.lit(_MIX_PRIME),
        F.lit(_MIX_DOMAIN),
    )
    # h*10000 < 2^45 — exact in double, floor() is the integer quotient
    bucket = F.floor(h * F.lit(10000) / F.lit(_MIX_DOMAIN)).cast("bigint")
    return (
        df.join(F.broadcast(thresholds), strat_col)
        .filter(bucket < F.col("_thr"))
        .drop("_thr")
    )


#: Distinct multiplier for token-BUDGET ordering (Murmur3's c1).  Same
#: decorrelation rule as _SHARD_PRIME: the admission order must not
#: reuse the keep-decision hash (_MIX_PRIME) or the shard hash
#: (_SHARD_PRIME) — a budget applied downstream of mixture/rank
#: sampling or upstream of sharding would otherwise admit a biased
#: prefix of the other stage's hash order.
_BUDGET_PRIME = 3432918353


def token_budget_mixture(
    df: DataFrame,
    budgets: dict[str, int],
    weight_col: str,
    key_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Admit documents per source until a fixed TOKEN budget is spent —
    the mixture form training runs actually specify ("200B tokens of
    web, 50B of code"), complementing temperature_mixture's rate form.

    Admission order is the dedicated-prime multiplicative id-hash
    (deterministic, engine-replayable, decorrelated from the sampling
    and shard hashes); a doc is kept while the source's RUNNING
    INCLUSIVE token total stays <= its budget, so the delivered budget
    never overshoots and undershoots by at most one document.  Sources
    absent from ``budgets`` are dropped (budgets are the explicit
    mixture spec).

    The running total is a window-free two-phase prefix sum
    (:func:`_two_phase_cumsum`, round 13) over the NARROW (id, source,
    weight) projection, joined back by id: the mixture spec names FEW
    sources ("web", "code", ...), each corpus-sized, so a per-source
    running window is exactly the mega-stratum single-task funnel; the
    two-phase form spreads each source across every range bucket it
    spans and the payload crosses the wire once, in the join-back.

    Returns the kept rows plus ``cum_tokens`` (the source's running
    total through this doc)."""
    if not budgets:
        raise ValueError("budgets must name at least one source")
    b = F.create_map(
        *[F.lit(x) for kv in budgets.items() for x in kv]
    )
    h = F.pmod(
        F.pmod(F.col(key_col).cast("bigint"), F.lit(_MIX_DOMAIN))
        * F.lit(_BUDGET_PRIME),
        F.lit(_MIX_DOMAIN),
    )
    narrow = (
        df.select(key_col, source_col, weight_col)
        .withColumn("_b", b[F.col(source_col)])
        .filter(F.col("_b").isNotNull())
        .withColumn("_h", h)
    )
    kept = (
        _two_phase_cumsum(
            narrow,
            [source_col],
            ["_h", key_col],
            weight_col,
            out="cum_tokens",
        )
        .filter(F.col("cum_tokens") <= F.col("_b"))
        .select(key_col, "cum_tokens")
    )
    return df.join(kept, key_col).select(*df.columns, "cum_tokens")


#: Distinct multiplier for the weighted-sample key (must differ from
#: _MIX_PRIME/_SHARD_PRIME/_BUDGET_PRIME: each deterministic decision
#: gets its own hash stream — see fibonacci_bucket's decorrelation
#: note and the shard-skew measurement behind _SHARD_PRIME).
_ES_PRIME = 2971215073


def weighted_sample_topk(
    df: DataFrame,
    k: int,
    *,
    weight_col: str,
    strat_col: str = "source",
    key_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, ``k`` rows
    per stratum: the Efraimidis-Spirakis A-ES scheme (keep the k
    largest u^(1/w), i.e. the k smallest -ln(u)/w) with the repo's
    multiplicative id-hash standing in for the uniform u — so the
    sample is reproducible, oracle-comparable, and decorrelated from
    every other hash-keyed decision by its own multiplier.

    The exponential key is QUANTIZED to 1e-6 (floor) before ranking and
    tie-broken by id: libm ``ln`` is not bit-identical across engines,
    and an unquantized ranking could flip two adjacent keys that differ
    below libm's ulp.  Selection runs through top_k_per_group's
    two-phase top-k, so no stratum's full row set funnels through one
    task."""
    dom = 2**31
    h = F.pmod(
        F.pmod(F.col(key_col).cast("bigint"), F.lit(dom)) * F.lit(_ES_PRIME),
        F.lit(dom),
    )
    u = (h + F.lit(1)).cast("double") / F.lit(float(dom + 1))
    wgt = F.greatest(F.col(weight_col).cast("double"), F.lit(1.0))
    key_q = F.floor(-F.log(u) / wgt * F.lit(1_000_000.0)).cast("bigint")
    # unique global order key: quantized ES key in the high bits, the
    # unique id as tiebreak in the low bits (key_q <= ~2.2e7, id < 2^31
    # -> the combination stays inside int64)
    keyed = df.withColumn("es_key", key_q).withColumn(
        "_ord", F.col("es_key") * F.lit(dom) + F.col(key_col).cast("bigint")
    )
    out = top_k_per_group(keyed, strat_col, "_ord", k)
    return out.drop("_ord")
