"""Connected components over near-duplicate pair edges — turning pairwise
dedup output into CLUSTERS so a pipeline can keep one representative per
group (the step after minhash/simhash/embedding pair generation).

Implementation is Pregel-style min-label propagation: each superstep is
two shuffle joins + a min-aggregate; the driver loop only evaluates the
convergence count (an iterative algorithm's legitimate driver-side
control flow — same shape as GraphX/GraphFrames).  Converges in
O(diameter) supersteps; each superstep is linear in |edges|.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import scoped_sql_confs
from . import pinning

#: Target edges per shuffle partition inside the propagation loop.
_EDGES_PER_PARTITION = 50_000


def _loop_confs(spark, width: int):
    """Conf scope for the propagation loop (lock-serialized against the
    streaming queries' state-store sizing, session.scoped_sql_confs):

    * ``spark.sql.shuffle.partitions`` — the near-dup edge set is orders
      of magnitude smaller than the corpus (0.01-1% of documents pair
      up), so superstep shuffles at the batch session's width run
      mostly-empty tasks — measured ~1.7x slower at 32 partitions than
      at an edge-proportional width on fixture-scale graphs, and the
      width SCALES UP with the edge count for huge graphs.
    * AQE off — each superstep is the same fixed two-stage job over a
      shuffle already sized to the edge count above; adaptive re-planning
      can only re-derive that width and charges its re-optimization
      latency on EVERY superstep job (measured ~10-20% of loop wall time
      on fixture-scale graphs).

    Every superstep action (localCheckpoint + convergence probe) runs
    inside the scope; the returned labels frame reads its final
    checkpoint, so callers' downstream actions are unaffected by the
    restore."""
    return scoped_sql_confs(
        spark,
        {
            "spark.sql.shuffle.partitions": str(width),
            "spark.sql.adaptive.enabled": "false",
        },
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    strict: bool = False,
) -> DataFrame:
    """(id, cluster_id) for every node in ``edges``; cluster_id is the
    minimum node id reachable from the node (deterministic canonical
    labeling, reproducible in a recursive-CTE oracle).

    Propagation moves one hop per superstep, so convergence needs
    ~graph-diameter rounds.  ``strict=True`` raises if ``max_iter``
    rounds exhaust WITHOUT convergence instead of silently returning
    partial labels — required by callers whose contract depends on
    complete components (semantic_dedup_cover's every-dropped-row-
    connects-to-its-kept-representative invariant)."""
    # Materialize the edge frame BEFORE the self-union: both union
    # branches consume it, and exchange reuse is not guaranteed across a
    # union — an expensive upstream pipeline (LSH + verify) would execute
    # twice.  Pair sets are small relative to the corpus, so the eager
    # checkpoint is cheap; it also truncates the caller's lineage out of
    # every superstep plan.
    e = pinning.pin(
        edges.select(
            F.col(src).cast("bigint").alias("a"),
            F.col(dst).cast("bigint").alias("b"),
        ),
        "cc_edges",
    )
    # count() on the checkpointed frame is a cheap cached scan; it sizes
    # the loop's shuffle width to the graph, not the session default
    spark = e.sparkSession
    n_edges = e.count()
    width = max(2, min(
        spark.sparkContext.defaultParallelism,
        n_edges // _EDGES_PER_PARTITION + 1,
    ))
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    # undirected: both directions, NOT deduplicated — the superstep's
    # min-aggregate is idempotent to duplicate edges (a repeated message
    # can't change a min), pair generators emit each (a,b) once anyway,
    # and a distinct here would cost a full extra shuffle before the
    # loop even starts
    und = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    und = pinning.pin(und, "cc_undirected", eager=False)
    labels: DataFrame | None = None
    superstep: DataFrame | None = None

    with _loop_confs(spark, width):
        for it in range(max_iter):
            if it == 0:
                # Superstep 1 needs NO join: every node's label IS its id,
                # so the messages are just the edge list relabeled, and the
                # node set (with old = id, for convergence detection) is
                # the source column — both directions are present, so
                # every node appears as a source.  The groupBy collapses
                # the per-incident-edge duplicates; min/max over identical
                # values are unchanged.  This replaces an edge-distinct, a
                # node-distinct, and the first join+shuffle with ONE
                # aggregation over 2|E| rows.
                combined = und.select(
                    F.col("b").alias("id"),
                    F.col("a").alias("label"),
                    F.lit(None).cast("bigint").alias("old"),
                ).unionByName(
                    und.select(
                        F.col("a").alias("id"),
                        F.col("a").alias("label"),
                        F.col("a").alias("old"),
                    )
                )
            else:
                msgs = und.join(labels, und.a == labels.id).select(
                    F.col("b").alias("id"), "label"
                )
                combined = labels.select(
                    "id", "label", F.col("label").alias("old")
                ).unionByName(msgs.withColumn("old", F.lit(None).cast("bigint")))
            # The old label rides along through the min-aggregate (each id
            # contributes exactly one distinct non-null "old" value), so
            # convergence is read off the materialized result with a cheap
            # scan — no second join+count per superstep.
            # an eager pin, not a lazy one: each superstep's plan would
            # otherwise embed the whole previous lineage, and analysis time
            # grows exponentially with iteration count (the classic
            # iterative-DataFrame trap).  It truncates the lineage, so the
            # previous superstep's pin is dead once this one lands.
            new_labels = pinning.pin(
                combined.groupBy("id").agg(
                    F.min("label").alias("label"), F.max("old").alias("old")
                ),
                "cc_superstep",
            )
            if superstep is not None:
                pinning.release(superstep)
            superstep = new_labels
            changed = (
                new_labels.filter(F.col("label") != F.col("old")).limit(1).count()
            )
            labels = new_labels.select("id", "label")
            if changed == 0:
                break
    pinning.release(und)
    pinning.release(e)
    if strict and changed != 0:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} supersteps "
            "(graph diameter exceeds max_iter); raise max_iter"
        )
    return labels.select("id", F.col("label").alias("cluster_id"))


def dedup_representatives(
    df: DataFrame,
    pairs: DataFrame | None,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Keep one representative (min id) per near-duplicate cluster plus
    every unpaired document — the end-to-end "dedup the corpus" result.

    ``components`` short-circuits the label propagation with an already-
    computed (id, cluster_id) frame for the SAME pair graph — the
    caller's contract; a labeling of a different graph (e.g. the full
    graph when ``pairs`` is an induced subgraph) is NOT equivalent,
    since subgraph components can merge through nodes outside it."""
    comps = connected_components(pairs) if components is None else components
    ids = df.select(F.col(id_col).cast("bigint").alias("id"))
    labeled = ids.join(comps, "id", "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col("id"))
    )
    return labeled.filter(F.col("id") == F.col("cluster_id")).select("id")


def quality_representatives(
    scored: DataFrame,
    components: DataFrame,
    id_col: str = "id",
    score_col: str = "quality_score",
) -> DataFrame:
    """Quality-aware cluster representative selection: within each
    near-duplicate cluster keep the HIGHEST-scoring document (ties →
    lowest id), not the minimum-id one — the keep-rule real curation
    pipelines want, since the min-id doc may be the truncated or
    boilerplate copy while a sibling is the clean original.

    ``scored`` is (id, score) for EVERY corpus document; ``components``
    is the (id, cluster_id) labeling of the SAME corpus's pair graph
    (same contract as :func:`dedup_representatives` — a labeling of a
    different graph is not equivalent).  Unpaired documents (absent
    from ``components``) form singleton clusters and always survive.

    Returns every document as (id, cluster_id, <score_col>, keep) with
    keep = 1 for the chosen representative.  The winner is a
    ``groupBy(cluster).agg(max(struct(score, -id)))`` + equi join-back
    (round 13) — NOT a per-cluster ranking window: near-dup clusters
    are usually small, but the one that matters at 100 TB is the viral
    boilerplate cluster holding a double-digit percent of the corpus,
    and a window funnels all of it through one task's sort while the
    max-struct aggregation pre-reduces map-side to one candidate per
    cluster per partition (the round-12 keep-first rule, argmax form).
    The (score desc, id) order is TOTAL (ids unique) and the struct
    max reproduces it exactly — max score wins, ties fall to min id
    via the BITWISE-NOT id field (``~id`` is monotone decreasing and,
    unlike ``-id``, cannot overflow at ``Long.MIN_VALUE`` under
    non-ANSI arithmetic — the java-hash-abs lesson applied to
    negation), an all-NULL-score cluster falls entirely to min id
    (struct ordering puts NULL below any value) — so the winner is
    deterministic and oracle-comparable even under widespread score
    ties."""
    labeled = (
        scored.select(
            F.col(id_col).cast("bigint").alias("id"), score_col
        )
        .join(components, "id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", F.col("id")))
    )
    winners = labeled.groupBy("cluster_id").agg(
        F.max(
            F.struct(
                F.col(score_col).alias("s"),
                F.bitwise_not(F.col("id")).alias("nid"),
            )
        ).alias("_w")
    )
    return labeled.join(winners, "cluster_id").select(
        "id",
        "cluster_id",
        score_col,
        (
            F.col(score_col).eqNullSafe(F.col("_w.s"))
            & (F.col("id") == F.bitwise_not(F.col("_w.nid")))
        )
        .cast("bigint")
        .alias("keep"),
    )


def pagerank(
    edges: DataFrame,
    n_iter: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    checkpoint_every: int | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the
    power-iteration sibling of :func:`connected_components`' label
    propagation (extension surface; the reference has no graph ops).

    FIXED iteration count, not convergence-tested: a deterministic,
    engine-replayable result (the differential oracle unrolls the same
    n_iter rounds as CTEs) and the deployment norm anyway — production
    PageRank runs a budgeted iteration count.  Every node must have at
    least one out-edge (symmetrize upstream if needed): dangling-mass
    redistribution is deliberately out of scope, keeping each round ONE
    join + ONE aggregate.

    Scale shape per round: ranks (node-keyed) join edges (src-keyed) —
    both shuffles key-partitioned, contributions combine map-side in
    the dst aggregation; nothing is ever all-pairs and the rank vector
    never leaves the cluster.  The driver loop only BUILDS the plan
    (n_iter is a small constant); for larger budgets pass
    ``checkpoint_every`` to pin the rank vector eagerly every k
    rounds, bounding lineage/plan growth exactly like the CC loop
    (value-identical — checkpointing only truncates lineage; pinned in
    tests/test_graph.py).

    Returns (node, rank) with rank unrounded."""
    e = edges.select(
        F.col(src).cast("bigint").alias("src"),
        F.col(dst).cast("bigint").alias("dst"),
    ).distinct()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst")))
        .distinct()
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    n = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    base = F.lit(1.0 - damping) / F.col("n")
    pinned: DataFrame | None = None
    for i in range(n_iter):
        contrib = (
            e.join(deg, "src")
            .join(ranks, F.col("src") == F.col("node"))
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("deg")).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        # every node has out-edges by contract; symmetrized graphs give
        # every node in-edges too, but keep the no-in-edge case correct
        ranks = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                (
                    base
                    + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))
                ).alias("rank"),
            )
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0:
            # the eager pin truncates the lineage: the previous one is dead
            ranks = pinning.pin(ranks, "pagerank_ranks")
            if pinned is not None:
                pinning.release(pinned)
            pinned = ranks
    return ranks


def cooccurrence_edges(
    df: DataFrame,
    *,
    group_col: str,
    item_col: str,
    min_support: int = 1,
) -> DataFrame:
    """Undirected item-affinity edges: (``a``, ``b``) with ``a < b`` for
    item pairs co-occurring in at least ``min_support`` distinct groups
    (orders, sessions, baskets).

    The pair explosion is per-group quadratic, so the group key join is
    the cost driver: distinct (group, item) first (bounds a group's
    fan-out at its distinct item count), then a self-equi-join on the
    group key.  A pathological hot group (one basket holding 10⁵ items)
    quadratically dominates — production bounds it by capping per-group
    distinct items BEFORE the join (top-N by relevance), the same
    hard-bound-the-fanout move as the winnowing stop-fp cutoff.  The
    support filter then shrinks the edge set to the statistically
    meaningful co-occurrences; min_support >= 2 typically drops >95% of
    pairs (measured: 115,729 -> 3,638 at sf0.01)."""
    gi = df.select(
        F.col(group_col).alias("_g"), F.col(item_col).alias("_i")
    ).distinct()
    left = gi.alias("l")
    right = gi.alias("r")
    pairs = (
        left.join(right, F.col("l._g") == F.col("r._g"))
        .filter(F.col("l._i") < F.col("r._i"))
        .select(F.col("l._i").alias("a"), F.col("r._i").alias("b"))
    )
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= int(min_support))
        .select("a", "b")
    )


def triangle_node_counts(edges: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Per-node triangle participation over an oriented edge set
    (``a < b`` on every row, no duplicates — cooccurrence_edges'
    contract): (``node``, ``n_tri``) for every node in >= 1 triangle.

    The oriented form enumerates each triangle exactly once as
    a < b < c (wedge join on the middle node + closing equi-join), so
    the global triangle count is sum(n_tri) / 3 — no ×6 dedup pass.
    Wedge fan-out is sum(out-degree²); the classic scale refinement is
    orienting edges low-degree -> high-degree first (cuts the wedge
    count to O(m^1.5) on skewed graphs) — same join shape, different
    orientation rule, worth it once hub out-degrees clear ~10⁴."""
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    wedges = e1.join(e2, F.col(f"e1.{b}") == F.col(f"e2.{a}")).select(
        F.col(f"e1.{a}").alias("x"),
        F.col(f"e1.{b}").alias("y"),
        F.col(f"e2.{b}").alias("z"),
    )
    tri = wedges.join(
        e3,
        (F.col("x") == F.col(f"e3.{a}")) & (F.col("z") == F.col(f"e3.{b}")),
        "left_semi",
    )
    return (
        tri.select(F.explode(F.array("x", "y", "z")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    )


def bfs_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Multi-source breadth-first search: (node, dist) with dist the
    MINIMUM hop count from any seed, up to ``max_hops``; unreachable
    nodes are absent.  The frontier-expansion sibling of
    :func:`connected_components`' label propagation and
    :func:`pagerank`'s power iteration — reachability-with-depth is
    the graph query curation pipelines run to bound contamination
    blast radius (documents within k link-hops of a flagged seed set)
    or to scope a crawl frontier.

    Per superstep: the CURRENT frontier (never the full visited set)
    joins the edge list src-keyed, the successor set deduplicates
    (min-dist semantics need each node once), and a left-anti join
    against the visited frame drops already-settled nodes — so a node
    settles at its FIRST (= minimum) depth, exactly the recursive
    oracle's ``min(d)``.  Each frontier is localCheckpoint-ed: the
    visited frame is a union of small checkpointed levels, so superstep
    plans stay constant-size instead of re-deriving every prior level.
    The loop exits EARLY on an empty frontier (the emptiness probe
    reads the checkpoint just written, not a recomputation).

    Scale shape: work per superstep is O(|frontier| + touched edges),
    keyed shuffles only — frontier join src-keyed, dedup node-keyed,
    anti-join node-keyed.  Shuffle width follows the edge count like
    the CC loop.  Nothing is ever all-pairs; the visited set never
    leaves the cluster."""
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    e = pinning.pin(
        edges.select(
            F.col(src).cast("bigint").alias("src"),
            F.col(dst).cast("bigint").alias("dst"),
        ),
        "bfs_edges",
    )
    spark = e.sparkSession
    width = max(2, min(
        spark.sparkContext.defaultParallelism,
        e.count() // _EDGES_PER_PARTITION + 1,
    ))
    frontier = pinning.pin(
        seeds.select(F.col(node).cast("bigint").alias("node"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("bigint")),
        "bfs_level",
    )
    levels = [frontier]
    visited = frontier
    with _loop_confs(spark, width):
        for h in range(1, max_hops + 1):
            nxt = pinning.pin(
                frontier.join(e, frontier["node"] == e["src"])
                .select(e["dst"].alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .withColumn("dist", F.lit(h).cast("bigint")),
                "bfs_level",
            )
            if nxt.isEmpty():
                break
            levels.append(nxt)
            visited = visited.union(nxt)
            frontier = nxt
    pinning.release(e)
    out = levels[0]
    for lv in levels[1:]:
        out = out.union(lv)
    return out
