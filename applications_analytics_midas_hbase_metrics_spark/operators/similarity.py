"""Similarity search over embedding columns (array<float>) — the ANN
surface of the training-data pipeline extensions (SURVEY.md §7 phase 7).

Two paths:
  * brute-force top-k — exact; query set broadcast against the corpus,
    one shuffle for the per-query top-k.  Right answer at any scale
    where (|queries| × |corpus|) dot products are affordable.
  * IVF (inverted-file) top-k — the scale path: corpus is assigned to
    the nearest of C centroids (built once, offline here via
    deterministic seeding + one Lloyd step), queries probe the
    ``nprobe`` nearest centroid lists only, cutting the scanned corpus
    to ~nprobe/C.  All DataFrame ops; the centroid table broadcasts.

Dot products use a strict left-fold (same order as the SQL oracle's
list_reduce) so doubles agree bit-for-bit across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import pinning
from .dedup import _dot


def _norm(v: Column) -> Column:
    """sqrt of the strict left-fold self-dot — hoisted per ROW by every
    scorer here: the per-pair cosine otherwise folds both operand norms
    once per pair (3 interpreted 64-element aggregates per pair instead
    of 1).  sqrt(dot(v,v)) is the identical double wherever computed,
    so scores and rankings are unchanged."""
    return F.sqrt(_dot(v, v))


def _cos_pre(dot_ab: Column, na: Column, nb: Column) -> Column:
    """Cosine from a pair dot and two hoisted norms — same try_divide
    null semantics as dedup.cosine (zero-norm → NULL, not an ANSI
    error)."""
    return F.try_divide(dot_ab, na * nb)


def _topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Two-phase per-query top-k over (query_id, corpus_id, cos) — the
    ``TakeOrderedAndProject`` shape generalized per group, same pattern
    as operators.sampling.top_k_per_group:

      1. partition-local top-k: a row_number window keyed on
         (query_id, input-partition) — fully parallel, never funnels a
         query's full score set through one task, and sort-based, so
         the only per-task state is the external sort's spillable
         buffer (the earlier collect_list formulation pinned every
         (query, task) score in the aggregation hash map — bounded by
         partition size but NOT by k, and unable to spill).
      2. global top-k + ranking over the reduced set — the window now
         sees <= k × n_partitions rows per query instead of |corpus|.

    Both phases order by (cos DESC, corpus_id), so the emitted rank is
    identical to the single-window formulation.

    Degenerate scores are dropped up front: a zero-norm vector yields
    NULL (operators.dedup.cosine uses try_divide under ANSI mode), and
    a NaN would rank first under a DESC ordering in both phases —
    surfacing a meaningless neighbor.  Filtering makes both phases
    (and the SQL oracle) agree: a degenerate vector is simply not a
    neighbor."""
    scored = scored.filter(F.col("cos").isNotNull() & ~F.isnan("cos"))
    wl = Window.partitionBy("query_id", "_p").orderBy(
        F.col("cos").desc(), F.col("corpus_id")
    )
    local = (
        scored.withColumn("_p", F.spark_partition_id())
        .withColumn("_rk", F.row_number().over(wl))
        .filter(F.col("_rk") <= k)
        .select("query_id", "corpus_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("corpus_id")
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "corpus_id",
            F.round("cos", 6).alias("cos"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k per query.  ``queries`` is broadcast (small by
    construction); the per-query ranking runs two-phase (see
    :func:`_topk_per_query`) so no task ever sees a query's full score
    set; ties break on corpus id so output is total-ordered and
    oracle-comparable."""
    c = corpus.select(
        F.col(id_col).cast("bigint").alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    q = queries.select(
        F.col(id_col).cast("bigint").alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        c.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id"))
        .withColumn(
            "cos", _cos_pre(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn"))
        )
        .select("query_id", "corpus_id", "cos")
    )
    return _topk_per_query(scored, k)


def _assign_nearest(
    df: DataFrame, centroids: DataFrame, vec: str, out: str, id_col: str
) -> DataFrame:
    """Assign each row to its nearest centroid by cosine: broadcast the
    centroid table, score the cross product map-side, then take the
    per-row argmax with a ``max_by`` AGGREGATION keyed on the
    caller-named ``id_col`` — NOT a ranking window.  The distinction is
    the shuffle width: a window would exchange all |rows| x |C| scored
    rows before ranking, while the aggregation's map-side combine
    collapses each row's |C| candidates inside the scan partition, so
    the exchange carries one row per input row regardless of codebook
    size.  Ties break to the lowest centroid_id via the lexicographic
    (sim, -centroid_id) struct max — identical semantics to the
    (sim DESC, centroid_id ASC) ranking it replaces; a null cosine
    (zero-norm vector) orders below every real score.

    ``id_col`` must be a UNIQUE non-null key of ``df`` (every caller
    passes a primary key): the argmax aggregate runs NARROW —
    (id, sim, centroid_id) only — and the payload re-attaches by a
    shuffle-hash equi join on that key.  Round 15: the previous shape
    carried every ``df`` column (vector included) through the max_by
    buffer; complex-typed aggregation buffers force SortAggregateExec,
    and sorting |rows| x |C| payload rows spent ~97% of the first
    honest rung centroid-build wall inside UnsafeArrayData.copy
    (jstack'd; SCALE.md round 15).  The narrow buffer keeps the
    argmax itself unchanged — same order struct, same tie-break, same
    doubles — while the sort touches ~24-byte rows, and the join-back
    moves each payload row exactly once (hash, not sort-merge: both
    sides are unsorted and keyed uniquely)."""
    cents = centroids.withColumn("_cn", _norm(F.col("centroid")))
    scored = (
        df.select(F.col(id_col), F.col(vec))
        .withColumn("_vn", _norm(F.col(vec)))
        .join(F.broadcast(cents), how="cross")
        .withColumn(
            "_sim",
            _cos_pre(_dot(F.col(vec), F.col("centroid")), F.col("_vn"), F.col("_cn")),
        )
        .select(F.col(id_col), F.col("_sim"), F.col("centroid_id"))
    )
    order = F.struct(
        F.coalesce(F.col("_sim"), F.lit(-2.0)).alias("s"),
        (-F.col("centroid_id")).alias("nc"),
    )
    best = scored.groupBy(id_col).agg(
        F.max_by(F.col("centroid_id"), order).cast("int").alias(out)
    )
    return df.join(best.hint("shuffle_hash"), id_col)


def build_ivf_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_steps: int = 1,
    train_mod: int | None = None,
) -> DataFrame:
    """Deterministic IVF codebook: seed with the ``num_centroids`` rows of
    lowest id (reproducible, no RNG), then ``lloyd_steps`` rounds of
    assign + mean.  Returns (centroid_id, centroid array<double>).

    ``train_mod=k`` trains the Lloyd steps on the deterministic
    ``id % k == 0`` sample — the production practice at scale: codebook
    quality needs a representative sample, not the corpus, and the
    N x C assignment cost of each training round drops by k (measured
    in SCALE.md).  Seeding stays on the full corpus's lowest ids so the
    codebook identity is sample-size-independent; the full-corpus
    assignment happens exactly once, in :func:`ivf_index`.  Hash-free
    modular sampling keeps the whole build replayable in SQL."""
    base = corpus.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    train = base.filter(F.col("id") % train_mod == 0) if train_mod else base
    # Seed selection via orderBy().limit() — TakeOrderedAndProject keeps
    # a per-partition top-N and merges N rows on the driver side of the
    # exchange.  (A global row_number() window here would sort the ENTIRE
    # corpus into one partition — a scale-killer at 100 TB.)  The
    # centroid_id ranking then runs on ≤ num_centroids rows: one
    # collect_list over the bounded seed set, never over the corpus.
    seeds = (
        base.orderBy("id")
        .limit(num_centroids)
        .agg(F.array_sort(F.collect_list(F.struct("id", "v"))).alias("s"))
        .select(F.posexplode("s").alias("centroid_id", "sv"))
        .select(
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.col("sv.v").alias("centroid"),
        )
    )
    cents = seeds
    for _ in range(lloyd_steps):
        assigned = _assign_nearest(
            train.select("id", "v"), cents, vec="v", out="cid", id_col="id"
        )
        # element-wise mean via posexplode: two shuffles on small keys,
        # no giant per-group array expressions — this is the shape that
        # survives 100 TB corpora (per-(centroid, dim) partial means)
        means = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm")
            )
            .select(
                F.col("cid").cast("int").alias("centroid_id"),
                F.transform(F.col("pm"), lambda s: s["m"]).alias("_new"),
            )
        )
        # empty-cluster guard: a centroid that attracted no (sampled)
        # trainees this round keeps its previous position instead of
        # silently vanishing from the codebook — |codebook| is an
        # invariant, not a function of the training sample
        cents = (
            cents.join(means, "centroid_id", "left")
            .select(
                "centroid_id",
                F.coalesce(F.col("_new"), F.col("centroid")).alias("centroid"),
            )
        )
    return cents


def ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The persistable IVF artifact: every corpus vector assigned to its
    nearest centroid's inverted list — (corpus_id, cv, cn, list_id).

    Assignment cost is |corpus| x |C| cosine scores, which is the
    EXPENSIVE half of an IVF search (measured: it dominates wall time
    from C≈64 up) — and it is query-independent, so a deployment
    computes it once per corpus snapshot, writes it (partitioned by
    list_id for probe pruning), and every subsequent query batch
    probes the stored lists.  :func:`ivf_topk` accepts this frame via
    ``index=`` and skips re-assignment, exactly like
    dedup.minhash_signature_frame feeds lsh_pairs_between."""
    c = corpus.select(
        F.col(id_col).cast("bigint").alias("corpus_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    return _assign_nearest(c, centroids, vec="cv", out="list_id", id_col="corpus_id")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-approximate cosine top-k: corpus rows are searched only when
    their centroid is among the query's ``nprobe`` nearest centroids.
    Same output schema as brute_force_topk.  Pass ``index=`` (a frame
    from :func:`ivf_index`, typically read back from storage) to search
    a prebuilt index; otherwise the corpus is assigned inline."""
    c_assigned = (
        index
        if index is not None
        else ivf_index(corpus, centroids, vec_col=vec_col, id_col=id_col)
    )

    q = queries.select(
        F.col(id_col).cast("bigint").alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    cents = centroids.withColumn("_cn", _norm(F.col("centroid")))
    q_scored = q.join(F.broadcast(cents), how="cross").withColumn(
        "_sim",
        _cos_pre(_dot(F.col("qv"), F.col("centroid")), F.col("qn"), F.col("_cn")),
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("_sim").desc(), F.col("centroid_id"))
    q_probes = (
        q_scored.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "qv", "qn", F.col("centroid_id").alias("list_id"))
    )

    scored = (
        c_assigned.join(F.broadcast(q_probes), "list_id")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn(
            "cos", _cos_pre(_dot(F.col("qv"), F.col("cv")), F.col("qn"), F.col("cn"))
        )
        .select("query_id", "corpus_id", "cos")
    )
    # probing already bounds the scanned lists, but a hot list can still
    # be corpus-scale — rank two-phase here too
    return _topk_per_query(scored, k)


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = True,
    pin=None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: bucket the corpus by
    nearest centroid, then inside each bucket drop every vector that has
    an EARLIER (lower-id) bucket-mate with cosine >= ``threshold``.
    Returns (id, cluster_id, keep) — keep = 1 marks the retained
    representative set (deterministic: the lowest id of every similar
    group inside a bucket always survives).

    The centroid bucketing is what makes this scale: the quadratic
    within-bucket compare runs per cluster, so its cost is bounded by
    the largest bucket — size the codebook so ~|corpus|/k fits a
    shuffle partition (k grows with the corpus; train the codebook on a
    sample and persist it, see build_ivf_centroids).  No all-pairs join
    ever touches the full corpus; the centroid table broadcasts.

    Caveat (inherent to SemDeDup, not this implementation): similar
    vectors assigned to DIFFERENT buckets are not compared — recall is
    traded for the bucket bound, exactly like the original method."""
    c = corpus.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    assigned = _assign_nearest(c, centroids, vec="cv", out="cluster_id", id_col="id")
    # assigned feeds BOTH pair sides and the final keep-join — without
    # materialization the full-corpus centroid assignment (the dominant
    # cost) executes once per consumer.
    # ``pin`` (df -> df) overrides HOW it materializes — the registry
    # queries pass plans.queries.persist_deferred so a repeat run (warm
    # bench, driver retry) claims the cached assignment instead of
    # recomputing it
    assigned = pin(assigned) if pin is not None else pinning.pin(
        assigned, "semdedup_assign", eager=materialize
    )
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("cv").alias("va"),
        F.col("cn").alias("na"), "cluster_id",
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("cv").alias("vb"),
        F.col("cn").alias("nb"), "cluster_id",
    )
    dups = (
        a.join(b, "cluster_id")
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(
            _cos_pre(_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
            >= threshold
        )
        .select("id_a")
        .distinct()
    )
    return (
        assigned.join(dups, assigned.id == dups.id_a, "left")
        .select(
            "id",
            F.col("cluster_id").cast("int").alias("cluster_id"),
            F.when(F.col("id_a").isNull(), F.lit(1))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("keep"),
        )
    )


def semantic_dedup_cover(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    materialize: bool = True,
    max_iter: int = 50,
    pin=None,
) -> DataFrame:
    """:func:`semantic_dedup` with COVER semantics: the >=threshold
    within-bucket pair graph is reduced by connected components and the
    minimum id of every component survives — so every dropped vector is
    (transitively) connected to its kept representative, and chains
    like A~B, B~C, A!~C keep A and drop B AND C with A recorded as the
    reason, instead of the upper-triangular rule's "drop B and C with
    no kept double for C" over-prune (round-6 advice observation).

    Same bucket bound as semantic_dedup (no cross-bucket compares, the
    SemDeDup recall trade); the component pass adds min-label
    propagation over the PAIR graph only — edge-proportional, never
    corpus-quadratic (operators.graph.connected_components).  Returns
    (id, cluster_id, keep, rep_id): rep_id is the surviving
    representative for dropped rows (itself for kept rows) — the
    provenance column a curation audit wants."""
    from .graph import connected_components

    c = corpus.select(
        F.col(id_col).cast("bigint").alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    assigned = _assign_nearest(c, centroids, vec="cv", out="cluster_id", id_col="id")
    # three consumers (both pair sides + the final keep-join): run the
    # full-corpus centroid assignment once, not three times; ``pin``
    # overrides the materialization like in :func:`semantic_dedup`
    assigned = pin(assigned) if pin is not None else pinning.pin(
        assigned, "semdedup_cover_assign", eager=materialize
    )
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("cv").alias("va"),
        F.col("cn").alias("na"), "cluster_id",
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("cv").alias("vb"),
        F.col("cn").alias("nb"), "cluster_id",
    )
    pairs = (
        a.join(b, "cluster_id")
        .filter(F.col("id_b") < F.col("id_a"))
        .filter(
            _cos_pre(_dot(F.col("va"), F.col("vb")), F.col("na"), F.col("nb"))
            >= threshold
        )
        .select("id_a", "id_b")
    )
    # strict: partial labels would break the every-dropped-row-connects-
    # to-its-kept-representative contract on chains longer than the
    # superstep budget — fail loudly, never mislabel
    comp = connected_components(pairs, max_iter=max_iter, strict=True)
    comp = comp.select("id", F.col("cluster_id").alias("rep_id"))
    return (
        assigned.join(comp, "id", "left")
        .select(
            "id",
            F.col("cluster_id").cast("int").alias("cluster_id"),
            F.when(
                F.col("rep_id").isNull() | (F.col("rep_id") == F.col("id")),
                F.lit(1),
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("keep"),
            F.coalesce("rep_id", "id").cast("bigint").alias("rep_id"),
        )
    )


def _subvectors(nv: Column, m: int) -> Column:
    """Split an L2-normalized vector into ``m`` equal subvectors, sized
    from the array's own length.  d must be divisible by m — enforced
    LOUDLY per row via ``assert_true`` (a silent ``floor(d/m)`` truncation
    would drop trailing dimensions and degrade every downstream cosine
    estimate with no error; round-8 advice).  The guard is one JVM
    modulo per row, and ``assert_true`` returns NULL on success so the
    ``when`` passes the vector through unchanged."""
    checked = F.when(
        F.assert_true(
            F.size(nv) % m == 0,
            F.concat(
                F.lit(f"PQ: embedding dim must be divisible by m={m}, got d="),
                F.size(nv).cast("string"),
            ),
        ).isNull(),
        nv,
    )
    dsub = (F.size(nv) / m).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda s: F.slice(checked, s * dsub + 1, dsub),
    )


def _l2n(v: Column) -> Column:
    """L2-normalize (null for zero-norm) so PQ's additive inner-product
    estimate equals cosine."""
    n = _norm(v)
    return F.when(n > 0, F.transform(v, lambda x: x / n))


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    ksub: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    lloyd_steps: int = 1,
    train_mod: int | None = None,
) -> DataFrame:
    """Product-quantization codebooks (Jégou et al.): the vector space
    splits into ``m`` subspaces and each learns its own ``ksub``-entry
    codebook by k-means — a corpus vector then stores as m small codes
    (m bytes at ksub<=256) instead of d floats, the ~32x memory
    reduction that lets a 100 TB embedding corpus's index live in RAM.

    Spark shape: ONE distributed job trains ALL m subspaces
    simultaneously — subvector rows carry (id, sub_id, sv), the
    codebook broadcast-joins on sub_id, the argmin is a map-side-
    combined ``min_by`` aggregation (never a ranking window), and the
    per-(sub, code, dim) means shuffle small keys, exactly the
    :func:`build_ivf_centroids` discipline.  Seeding is deterministic
    but SPREAD: the ksub vectors of lowest ``xxhash64(id)`` seed every
    subspace (a TakeOrderedAndProject, same scale shape as lowest-id,
    but uncorrelated with id order — an id-sorted corpus no longer
    seeds every codebook from one neighborhood; round-8 advice).  A
    corpus with fewer than ksub usable (non-zero-norm) vectors FAILS
    LOUDLY instead of silently emitting a short codebook.
    ``train_mod`` samples Lloyd training rows like the IVF builder.
    Vectors L2-normalize first so the ADC score in :func:`pq_topk`
    estimates COSINE; d must be divisible by m (enforced per row).

    Returns (sub_id, code_id, centroid array<double>)."""
    base = corpus.select(
        F.col(id_col).cast("bigint").alias("id"),
        _l2n(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("nv"),
    ).filter(F.col("nv").isNotNull())
    train = base.filter(F.col("id") % train_mod == 0) if train_mod else base
    seeds = (
        base.orderBy(F.xxhash64("id"), "id")
        .limit(ksub)
        .agg(F.array_sort(F.collect_list(F.struct("id", "nv"))).alias("s"))
        .select(
            F.when(
                F.assert_true(
                    F.size("s") == ksub,
                    F.concat(
                        F.lit(
                            f"pq_train: corpus must hold >= ksub={ksub} usable "
                            "(non-zero-norm) vectors, got "
                        ),
                        F.size("s").cast("string"),
                    ),
                ).isNull(),
                F.col("s"),
            ).alias("s")
        )
        .select(F.posexplode("s").alias("code_id", "sv"))
        .select(
            F.col("code_id").cast("int").alias("code_id"),
            F.posexplode(_subvectors(F.col("sv.nv"), m)).alias(
                "sub_id", "centroid"
            ),
        )
        .select(F.col("sub_id").cast("int").alias("sub_id"), "code_id", "centroid")
    )
    subrows = train.select(
        "id", F.posexplode(_subvectors(F.col("nv"), m)).alias("sub_id", "sv")
    )
    books = seeds
    for _ in range(lloyd_steps):
        assigned = _pq_assign(subrows, books)
        means = (
            assigned.select("sub_id", "code_id", F.posexplode("sv").alias("pos", "val"))
            .groupBy("sub_id", "code_id", "pos")
            .agg(F.avg("val").alias("mv"))
            .groupBy("sub_id", "code_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mv"))).alias("pm"))
            .select(
                "sub_id",
                "code_id",
                F.transform(F.col("pm"), lambda s: s["mv"]).alias("_new"),
            )
        )
        # empty-code guard, same invariant as the IVF builder
        books = books.join(means, ["sub_id", "code_id"], "left").select(
            "sub_id",
            "code_id",
            F.coalesce(F.col("_new"), F.col("centroid")).alias("centroid"),
        )
    return books


def _pq_assign(subrows: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest codebook entry per (id, sub_id) by L2 — broadcast join on
    sub_id, map-side-combined min_by (ties to the lowest code_id)."""
    d2 = F.aggregate(
        F.zip_with(F.col("sv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = subrows.join(F.broadcast(books), "sub_id").withColumn("_d2", d2)
    order = F.struct(
        (-F.coalesce(F.col("_d2"), F.lit(float("inf")))).alias("nd"),
        (-F.col("code_id")).alias("nc"),
    )
    return (
        scored.groupBy("id", "sub_id")
        .agg(
            F.max_by(
                F.struct(F.col("sv").alias("sv"), F.col("code_id").alias("c")), order
            ).alias("_b")
        )
        .select("id", "sub_id", F.col("_b.sv").alias("sv"), F.col("_b.c").alias("code_id"))
    )


def pq_encode(
    corpus: DataFrame,
    books: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode each vector as its ``m`` nearest-codebook-entry codes —
    the persistable PQ index row: (id, codes array<int>), m bytes of
    payload per vector at ksub<=256.  One assignment aggregation plus
    one regroup-by-id; both shuffles carry code-sized rows, never
    vectors."""
    base = corpus.select(
        F.col(id_col).cast("bigint").alias("id"),
        _l2n(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("nv"),
    ).filter(F.col("nv").isNotNull())
    subrows = base.select(
        "id", F.posexplode(_subvectors(F.col("nv"), m)).alias("sub_id", "sv")
    )
    assigned = _pq_assign(subrows, books)
    return (
        assigned.groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "code_id"))).alias("sc"))
        .select(
            "id", F.transform(F.col("sc"), lambda s: s["code_id"]).alias("codes")
        )
    )


def _pq_queries(
    queries: DataFrame, vec_col: str, id_col: str
) -> DataFrame:
    """Normalized query frame (query_id, nq) shared by every PQ scorer —
    zero-norm queries drop out (cannot be normalized), same contract as
    train/encode."""
    return queries.select(
        F.col(id_col).cast("bigint").alias("query_id"),
        _l2n(F.transform(F.col(vec_col), lambda x: x.cast("double"))).alias("nq"),
    ).filter(F.col("nq").isNotNull())


def _pq_lut(q: DataFrame, books: DataFrame, m: int) -> DataFrame:
    """Per-query ADC lookup table: (query_id, lut) where
    ``lut[sub][code]`` is the inner product of the query's sub_id-th
    subvector with that subspace codebook entry.  |queries| x m x ksub
    doubles — built by ONE broadcast join against the codebook and two
    small regroups, and always consumed via a broadcast so the code
    scan side never shuffles.  Shared by :func:`pq_topk` (full-corpus
    ADC scan) and :func:`ivf_pq_topk` (probed-list ADC scan)."""
    qsub = q.select(
        "query_id", F.posexplode(_subvectors(F.col("nq"), m)).alias("sub_id", "qv")
    )
    ip = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        qsub.join(F.broadcast(books), "sub_id")
        .select("query_id", "sub_id", "code_id", ip.alias("ip"))
        .groupBy("query_id", "sub_id")
        .agg(F.array_sort(F.collect_list(F.struct("code_id", "ip"))).alias("ci"))
        .select(
            "query_id",
            "sub_id",
            F.transform(F.col("ci"), lambda s: s["ip"]).alias("ips"),
        )
        .groupBy("query_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub_id", "ips"))).alias("si"))
        .select(
            "query_id", F.transform(F.col("si"), lambda s: s["ips"]).alias("lut")
        )
    )


def _adc_score(m: int) -> Column:
    """The ADC estimate: sum over subspaces of ``lut[sub][codes[sub]]``
    — m array lookups per (query, code row), no float vectors touched."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            F.element_at(F.col("codes"), s + 1) + 1,
        ),
    )


def _pq_exact_rerank(
    scored: DataFrame,
    q: DataFrame,
    rerank: DataFrame,
    k: int,
    shortlist: int | None,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The production two-stage tail shared by :func:`pq_topk` and
    :func:`ivf_pq_topk`: the ADC scan's per-query SHORTLIST (default
    4k) fetches its true vectors (an id-keyed join sized
    |q| x shortlist, never |corpus|) and re-scores with exact cosine —
    the full-precision corpus is only ever touched shortlist-wide."""
    sl = _topk_per_query(scored, shortlist or 4 * k).select(
        "query_id", "corpus_id"
    )
    cv = rerank.select(
        F.col(id_col).cast("bigint").alias("corpus_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    exact = (
        sl.join(cv, "corpus_id")
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cos",
            _cos_pre(_dot(F.col("cv"), F.col("nq")), F.col("cn"), F.lit(1.0)),
        )
        .select("query_id", "corpus_id", "cos")
    )
    return _topk_per_query(exact, k)


def pq_topk(
    queries: DataFrame,
    books: DataFrame,
    codes: DataFrame,
    k: int = 10,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus: each
    query precomputes an m x ksub inner-product lookup table against
    the codebooks, scores every code row by m ARRAY LOOKUPS (no float
    vectors touched — the scan reads m-byte codes), and the two-phase
    per-query top-k ranks the estimates.  Score = sum of subspace
    inner products = the cosine estimate (vectors were L2-normalized
    at train/encode time).

    The LUT frame is |queries| x m x ksub doubles and rides a
    broadcast; the scan side never shuffles (the only exchanges are
    the top-k reduction's).  Returns (query_id, corpus_id, cos, rank)
    — ``cos`` is the ADC ESTIMATE, which is what makes PQ approximate;
    recall against exact brute force is gated where the operator is
    consumed.

    ``rerank=corpus`` enables the production two-stage shape: the ADC
    scan produces a per-query SHORTLIST (default 4k) whose true
    vectors are then fetched (an id-keyed join sized |q| x shortlist,
    never |corpus|) and re-scored with exact cosine — measured on the
    fixture corpus this lifts recall@10 from 0.50 (raw ADC, m=16/
    ksub=32) to the 0.93 the shortlist contains.  The full-precision
    corpus is only ever touched shortlist-wide; the scan stays on m-
    byte codes."""
    q = _pq_queries(queries, vec_col, id_col)
    lut = _pq_lut(q, books, m)
    scored = (
        codes.withColumnRenamed("id", "corpus_id")
        .join(F.broadcast(lut), F.col("corpus_id") != F.col("query_id"))
        .withColumn("cos", _adc_score(m))
        .select("query_id", "corpus_id", "cos")
    )
    if rerank is None:
        return _topk_per_query(scored, k)
    return _pq_exact_rerank(scored, q, rerank, k, shortlist, vec_col, id_col)


def ivf_pq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    books: DataFrame,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """The combined IVF-PQ artifact (the FAISS ``IVFPQ`` layout): every
    corpus vector assigned to its nearest coarse centroid's inverted
    list AND encoded as m PQ codes — (corpus_id, list_id, codes).
    Stored partitioned by list_id, a probe reads only nprobe lists and
    each list row is m bytes + two ids; the float corpus is never
    scanned at query time (only the rerank shortlist fetches it).

    Pass ``codes=`` (a :func:`pq_encode` frame, typically already
    persisted) to reuse an existing encoding instead of re-encoding —
    the deployment shape where the PQ codes and the coarse assignment
    are maintained as separate artifacts."""
    lists = ivf_index(corpus, centroids, vec_col=vec_col, id_col=id_col).select(
        "corpus_id", "list_id"
    )
    if codes is None:
        codes = pq_encode(corpus, books, m=m, vec_col=vec_col, id_col=id_col)
    return lists.join(
        codes.withColumnRenamed("id", "corpus_id"), "corpus_id"
    ).select("corpus_id", "list_id", "codes")


def ivf_pq_topk(
    queries: DataFrame,
    centroids: DataFrame,
    books: DataFrame,
    index: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    m: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: DataFrame | None = None,
    shortlist: int | None = None,
) -> DataFrame:
    """IVF-PQ search: probe the ``nprobe`` nearest coarse lists per
    query (broadcast centroid scoring, exactly :func:`ivf_topk`'s probe
    selection), ADC-score ONLY the probed lists' m-byte code rows via
    the broadcast per-query lookup table (:func:`pq_topk`'s scan), and
    optionally exact-rerank a shortlist against the float corpus —
    compute pruning (IVF) x memory pruning (PQ) composed, which is what
    a 100 TB embedding search actually deploys.  The scan side's only
    exchanges are the top-k reduction's; everything query-sized rides
    broadcasts."""
    q = _pq_queries(queries, vec_col, id_col)
    cents = centroids.withColumn("_cn", _norm(F.col("centroid")))
    q_scored = q.join(F.broadcast(cents), how="cross").withColumn(
        "_sim",
        _cos_pre(_dot(F.col("nq"), F.col("centroid")), F.lit(1.0), F.col("_cn")),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id")
    )
    probes = (
        q_scored.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("list_id"))
    )
    probe_lut = probes.join(_pq_lut(q, books, m), "query_id")
    scored = (
        index.join(F.broadcast(probe_lut), "list_id")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("cos", _adc_score(m))
        .select("query_id", "corpus_id", "cos")
    )
    if rerank is None:
        return _topk_per_query(scored, k)
    return _pq_exact_rerank(scored, q, rerank, k, shortlist, vec_col, id_col)


def replicate_embeddings(
    emb: DataFrame,
    factor: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nudge: float = 0.01,
) -> DataFrame:
    """``factor``x corpus replication for scaling experiments: replica i
    offsets ids by 1,000,000·i and nudges the first vector component by
    ``nudge``·i, so replicas are near- but not exact-duplicates (no
    degenerate cosine ties).  Dimension-agnostic (slices by the array's
    own size).  Shared by tools/scalecheck.py ivf and the plan-audit C=256
    twin so the scaling evidence and the audited plan can never
    desynchronize."""
    corpus = emb
    for i in range(1, factor):
        corpus = corpus.union(
            emb.select(
                (F.col(id_col) + 1_000_000 * i).alias(id_col),
                F.concat(
                    F.array(F.element_at(vec_col, 1) + F.lit(nudge * i)),
                    F.slice(F.col(vec_col), 2, F.size(vec_col) - 1),
                ).alias(vec_col),
            )
        )
    return corpus
