"""Graph operators over edge lists: connected components (near-duplicate
pairs to duplicate CLUSTERS), PageRank and personalized PageRank, HITS,
label propagation, k-core peeling, tree ancestry by pointer doubling, and
the one-shot triangle and clustering-coefficient counts.

The eight iterative operators are a seed frame plus a step function run by
:func:`_fixpoint`, the one round loop. Each round is one or two keyed
shuffles over the edge list; the round loop runs in the calling process
because Spark SQL has no recursion, and it reads nothing back but the
convergence counts. The loop feeds its own output back in, so an
untruncated logical plan grows every round and Catalyst re-analysis
dominates wall time long before data does; every round also costs a
scheduler round trip when it is materialized. One rule trades the two:

* A convergence-tested loop checkpoints the seed and every round eagerly:
  its predicate is a per-round action anyway. ``rounds`` is a cap, and a
  loop that reaches it raises RuntimeError naming the operator; an
  unconverged result is never returned.
* A fixed-round loop stays lazy, truncated by an eager checkpoint every
  ``_TRUNCATE_EVERY`` rounds. The last round is checkpointed only when
  the loop holds frames it must release on return (a pinned edge list,
  an earlier truncation or persisted rounds), because the result would
  read them; otherwise the loop returns a lazy plan and runs no job, so
  a short walk is one plan run by the caller's action. When the step
  reads the state twice, the plan doubles per lazy round (2^4-bounded
  between truncations) and each lazy round is persisted so its data is
  computed once.
* A separate edge list the step reads every round is materialized once:
  persisted lazily when the lazy state chain is linear, otherwise
  checkpointed eagerly, because a persist caches blocks but re-embeds the
  edge list's analyzed plan (an LSH or dedup pipeline) at every reference.

The two PageRank walks take an out-degree-weighted edge list
(src, dst, out_deg), built by :func:`out_degree_weighted`, and read it as
is every round; its owner materializes and releases it, and keeps it
until the caller's action has run a walk returned lazy. A round is one
groupBy(id) over the union of the contribution rows (dst, rank div
out_deg) and one row per node carrying its constant term (the teleport
floor), so no join back to the node or seed list follows the aggregate.
The registry queries pass one checkpointed list memoized per session
next to the LSH pairs (``queries.similarity._lsh_graph_weighted``), so
its per-src window shuffle runs once per session, not once per call.

Every frame the loop materialized except the returned state is released
on return, and everything is released when a step, the predicate or the
cap raises. localCheckpoint is the single-session choice; on a cluster,
checkpoint() to reliable storage instead.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from odbc2parquet_spark.operators.bucketing import release_local_checkpoint

_TRUNCATE_EVERY = 4


def _fixpoint(
    seed: DataFrame | Callable[[DataFrame], DataFrame],
    step: Callable[..., DataFrame],
    rounds: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    *,
    edges: DataFrame | None = None,
    reads_twice: bool = False,
    name: str = "",
) -> DataFrame:
    """Run ``step(state)`` from ``seed`` for ``rounds`` rounds under the
    module's cadence rule and return the last state.

    ``converged(new, old)`` makes ``rounds`` a cap: the loop stops at the
    first round it holds and raises RuntimeError naming ``name`` if it
    never does. ``edges`` is materialized once and passed to ``step``
    after the state (and to ``seed``, when that is a function of it).
    ``reads_twice`` declares a step that references the state twice.
    """
    tested = converged is not None
    held: list[tuple[DataFrame, bool]] = []  # pinned edges, then the state's frames

    def keep(df: DataFrame, eager: bool) -> DataFrame:
        df = df.localCheckpoint(eager=True) if eager else df.persist()
        held.append((df, eager))
        return df

    def release(frames: list[tuple[DataFrame, bool]]) -> None:
        for df, eager in frames:
            if eager:
                release_local_checkpoint(df)
            else:
                df.unpersist()

    try:
        args = () if edges is None else (keep(edges, tested or reads_twice),)
        pinned = len(held)
        state = seed(*args) if callable(seed) else seed
        if tested:
            state = keep(state, True)
        for i in range(rounds):
            new = step(state, *args)
            last = i + 1 == rounds and bool(held)  # the result must outlive them
            if tested or last or (i + 1) % _TRUNCATE_EVERY == 0:
                new = keep(new, True)
                done = tested and converged(new, state)
                release(held[pinned:-1])  # superseded rounds
                del held[pinned:-1]
                state = new
                if done:
                    break
            else:
                state = keep(new, False) if reads_twice else new
        else:
            if tested:
                raise RuntimeError(f"{name} did not converge in {rounds} rounds")
        held[:] = [h for h in held if h[0] is not state]
        return state
    finally:
        release(held)


def connected_components(nodes: DataFrame, edges: DataFrame, max_iterations: int = 20) -> DataFrame:
    """(id, component): every node labeled with the min node id reachable
    over the undirected edge set, by min-label propagation:

        label(v) <- min(label(v), min over neighbors u of label(u))

    repeated until no label changes, at most ``max_iterations`` rounds.

    ``nodes`` must contain every id (isolated nodes become their own
    component). Converges in rounds ~ component diameter; near-dup
    clusters are shallow, so that is a handful of rounds in practice.

    The propagation state carries ONLY edge-incident nodes: an isolated
    node can never receive a smaller label, so it joins the result once
    at the end as its own component (the same late-join the star variant
    uses). On a near-dup graph the label table is then DUP-sized, not
    corpus-sized — per-round joins, checkpoints, and change-detection all
    scale with the duplicate population instead of the full corpus.
    """
    # Dangling endpoints (ids absent from the node set) are dropped HERE,
    # so they can neither receive a label nor donate their id as a
    # component minimum — the inert-endpoint contract, enforced
    # structurally. The ONE-directional list is the pinned edge list:
    # each round reads both orientations from its checkpoint, where a
    # symmetrized plan would evaluate the upstream pair pipeline (MinHash
    # signatures + banded join + Jaccard verification) once per branch.
    node_ids = nodes.select("id").distinct()
    directed = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .join(node_ids.select(F.col("id").alias("src")), "src", "left_semi")
        .join(node_ids.select(F.col("id").alias("dst")), "dst", "left_semi")
        # a USING-column join moves the key first ([dst, src] here) and
        # union aligns by POSITION — re-project the canonical order so the
        # symmetrization below cannot silently align src with dst
        .select("src", "dst")
    )

    def both_ways(directed: DataFrame) -> DataFrame:
        return directed.union(
            directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    # seed with the first propagation half-round folded in:
    # label(v) = min(v, min over neighbors) — near-dup clusters are mostly
    # diameter <= 2, so the seed is often already the fixpoint and the
    # loop exits after ONE confirming round instead of two
    def seed(directed: DataFrame) -> DataFrame:
        return (
            both_ways(directed)
            .groupBy("src")
            .agg(F.min("dst").alias("nmin"))
            .select(
                F.col("src").alias("id"),
                F.least(F.col("src"), F.col("nmin")).alias("component"),
            )
        )

    def step(labels: DataFrame, directed: DataFrame) -> DataFrame:
        sym = both_ways(directed)
        neighbor_min = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst")
            .agg(F.min("component").alias("nmin"))
        )
        return labels.join(neighbor_min, labels.id == neighbor_min.dst, "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )

    def unchanged(new: DataFrame, old: DataFrame) -> bool:
        return (
            new.alias("n")
            .join(old.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
            == 0
        )

    labels = _fixpoint(
        seed, step, max_iterations, unchanged, edges=directed, name="connected_components"
    )
    return (
        nodes.select("id")
        .join(labels.withColumnRenamed("id", "_eid_"),
              F.col("id") == F.col("_eid_"), "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("id")).alias("component"),
        )
    )


def connected_components_star(
    nodes: DataFrame,
    edges: DataFrame,
    max_iterations: int = 30,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): the scale path beside
    :func:`connected_components`.

    Min-label propagation needs rounds ~ component diameter — fine for the
    shallow clusters near-dup pairs produce, quadratic-ish wall time on
    chain-shaped graphs (a crawl-frontier dedup can chain thousands of
    docs A~B~C~...). The star alternation contracts every component to a
    star around its min id in O(log n) rounds regardless of diameter:

      large-star(u): link every neighbor v > u to min(N(u) + {u})
      small-star(u): link every neighbor v <= u (and u) to min(N(u) + {u})

    Each half-round is one groupBy shuffle over the current edge list; the
    edge list only shrinks (edges collapse onto component minima), so late
    rounds are cheap. Convergence = the oriented edge set stops changing,
    within ``max_iterations`` rounds; the converged graph is a star per
    component with the min id at the center.
    """

    def step(e: DataFrame) -> DataFrame:
        # Large-star over the symmetric neighborhood of u.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        )
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # After large-star every edge points big -> small, so the
        # small-star neighborhoods are exactly the groupBy(u) groups.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        return (
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def stable(new: DataFrame, old: DataFrame) -> bool:
        # Both sides are distinct, so equal counts + empty difference <=> equal.
        return new.count() == old.count() and new.exceptAll(old).limit(1).count() == 0

    seed = (
        edges.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    e = _fixpoint(seed, step, max_iterations, stable, name="connected_components_star")
    labels = e.groupBy("u").agg(F.min("v").alias("component"))
    return (
        nodes.select("id")
        .join(labels, F.col("id") == F.col("u"), "left")
        .select("id", F.coalesce(F.col("component"), F.col("id")).alias("component"))
    )


def duplicate_clusters(
    nodes: DataFrame,
    pairs: DataFrame,
    algorithm: str = "propagation",
) -> DataFrame:
    """(id, cluster_id, is_canonical): cluster near-dup pairs and mark the
    keeper (min id per cluster — the same keep-first policy as
    :func:`exact_duplicates`).

    ``algorithm='star'`` switches to the large-star/small-star contraction
    (O(log n) rounds on any topology — use for deep/chainy pair graphs)."""
    cc_fn = connected_components_star if algorithm == "star" else connected_components
    cc = cc_fn(nodes, pairs)
    return cc.select(
        "id",
        F.col("component").alias("cluster_id"),
        (F.col("id") == F.col("component")).alias("is_canonical"),
    )


def canonical_representatives(clusters: DataFrame, quality: DataFrame) -> DataFrame:
    """Keep-best retention policy: per duplicate cluster, elect the member
    with the highest quality signal (tiebreak: lowest id) instead of the
    min-id keeper.

    This is the curation stage after clustering — "of these near-identical
    documents keep the longest / highest-scoring one". One equi-join of
    the cluster labels to the quality table followed by a single
    struct-max aggregation: the lexicographic max over
    ``(quality, -id)`` resolves the argmax and the tiebreak in one
    map-side-combinable pass — no per-cluster window sort, so skewed
    (giant) clusters cost a partial-aggregate merge, not a sort.

    Returns (cluster_id, keep_id, keep_quality, cluster_size, n_dropped).
    """
    j = clusters.join(quality, "id")
    best = F.max(
        F.struct(
            F.col("quality").alias("q"),
            (-F.col("id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        j.groupBy("cluster_id")
        .agg(best, F.count("*").alias("cluster_size"))
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("keep_id"),
            F.col("best.q").alias("keep_quality"),
            "cluster_size",
            (F.col("cluster_size") - 1).alias("n_dropped"),
        )
    )


def out_degree_weighted(edges: DataFrame) -> DataFrame:
    """(src, dst, out_deg): every edge with the out-degree of its source,
    the weighted list :func:`pagerank_int` and
    :func:`personalized_pagerank_int` push rank over. Every edge counts
    toward the degree, whatever its endpoints (a per-src window). The
    result is lazy; a caller that runs several walks over it pins it
    (``localCheckpoint()``) and releases it."""
    return edges.select("src", "dst").withColumn(
        "out_deg", F.count("*").over(Window.partitionBy("src"))
    )


def _rank_walk(
    weighted: DataFrame,
    seed: DataFrame,
    floor: DataFrame,
    keep: Column,
) -> DataFrame:
    """The 3-round rank push shared by :func:`pagerank_int` and
    :func:`personalized_pagerank_int`. Each round is one groupBy(id) over
    the union of the contribution rows (dst, rank div out_deg) and
    ``floor``'s (id, f) rows, the constant term of each node that has one;
    the next rank is ``f + (85 * sum) div 100`` (f = 0 without a floor
    row) on the groups ``keep`` holds."""
    terms = floor.select("id", F.lit(0).cast("long").alias("c"), F.col("f").cast("long"))

    def step(ranks: DataFrame) -> DataFrame:
        pushed = weighted.join(ranks, weighted.src == ranks.id).select(
            F.col("dst").alias("id"),
            F.expr("rank div out_deg").alias("c"),
            F.lit(None).cast("long").alias("f"),
        )
        return (
            pushed.union(terms)
            .groupBy("id")
            .agg(F.sum("c").alias("s"), F.max("f").alias("f"))
            .select(
                "id",
                "f",
                (F.coalesce("f", F.lit(0)) + F.expr("(85 * s) div 100")).cast("long").alias("rank"),
            )
            .filter(keep)
            .select("id", "rank")
        )

    return _fixpoint(seed, step, 3)


def pagerank_int(nodes: DataFrame, weighted: DataFrame, n_nodes: int) -> DataFrame:
    """Three-round PageRank in exact integer micro-units
    (rank x 10^12 as int64) — bit-identical on any engine.

    Floating-point PageRank is order-sensitive (per-node sums over
    neighbors accumulate in partition order); this variant does ALL
    arithmetic in int64: base rank 10^12 div N, per-edge contribution
    rank div out_degree, update (15*base + 85*sum) div 100. Dangling
    nodes keep their 0.15 floor (their mass leaks, as in the simple
    formulation — acceptable for a similarity-graph centrality signal);
    mass sent to ids outside ``nodes`` is dropped. Rounds are fixed (not
    convergence-tested), so the plan is static and no data is read back
    between rounds.

    ``weighted`` is the graph as an :func:`out_degree_weighted` list.
    ``n_nodes`` is N, the row count of ``nodes``; the caller supplies it
    (a parquet scan's footers hold it, ``catalog.footer_row_count``), so
    building the walk runs no Spark job, and its 3 rounds, fewer than
    ``_TRUNCATE_EVERY``, come back as one lazy plan.
    """
    base = (10**12) // n_nodes
    ids = nodes.select("id")
    floor = ids.select("id", F.lit((15 * base) // 100).alias("f"))
    seed = ids.select("id", F.lit(base).alias("rank"))
    return _rank_walk(weighted, seed, floor, F.col("f").isNotNull())


def personalized_pagerank_int(weighted: DataFrame, seeds: DataFrame) -> DataFrame:
    """Personalized PageRank (random walk with restart to a SEED set) in
    exact integer micro-units — the "more like these" expansion primitive:
    given a small curated seed set, rank the rest of the corpus by
    similarity-graph proximity to it (seed-set expansion for data
    curation, the PPR half of local community detection).

    Same int64 spec as :func:`pagerank_int` so any engine agrees
    bit-for-bit, but the teleport mass lands ONLY on seeds: base =
    10^12 div n_seeds (distinct seed ids); rank_0 = base on seeds else 0; update(v) =
    (15*base div 100 if v is seed else 0) + (85 * sum over in-edges of
    rank div out_deg) div 100. Nodes the walk never reaches stay at
    exactly 0 and are left out, so the result is naturally sparse — at
    100 TB the rank frontier (not the corpus) is what each iteration
    shuffles, and the per-iteration cost tracks the seed neighborhood
    size. ``weighted`` is as in :func:`pagerank_int`. The seed count is
    a one-row aggregate the seed and floor rows read as a scalar subquery
    (a cross join would plan a nested-loop join), so building the walk
    runs no Spark job.
    """
    seed_ids = seeds.select("id").distinct()
    n_seeds = seed_ids.agg(F.count("*")).scalar()
    based = seed_ids.select("id", n_seeds.alias("n")).select(
        "id", F.expr("1000000000000 div n").alias("base")
    )
    floor = based.select("id", F.expr("(15 * base) div 100").alias("f"))
    seed = based.select("id", F.col("base").alias("rank"))
    return _rank_walk(weighted, seed, floor, F.col("rank") > 0)


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation over an undirected edge list
    (id_a < id_b canonical orientation).

    Classic two-join shape: wedges from edges (a<b) joined to edges
    (b<c) on the middle node, closed against the edge set on (a, c) —
    every triangle a<b<c is found exactly once, then credited to each
    of its three corners via one explode + count. Cost is sum(deg^2)
    for the wedge build (the same budget any triangle algorithm pays);
    both joins are equi-joins so a 1000-executor cluster partitions by
    the join node. Returns (id, n_triangles) for nodes in >=1 triangle.
    """
    # the edge list is referenced three times (both wedge sides + the
    # closing join); without a persist each branch re-runs the caller's
    # edge-construction subplan (e.g. the whole LSH bucket expansion).
    # Narrow two-long rows -> cheap to cache; ContextCleaner reclaims it
    # once the returned plan is unreferenced.
    from pyspark import StorageLevel

    from odbc2parquet_spark import cachereg

    edges = cachereg.track(edges.persist(StorageLevel.MEMORY_AND_DISK))
    ab = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    bc = edges.select(F.col("id_a").alias("b"), F.col("id_b").alias("c"))
    wedges = ab.join(bc, "b")
    closing = edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("c"))
    tri = wedges.join(closing, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


def tree_ancestry(edges: DataFrame) -> DataFrame:
    """Root and depth for every node of a forest — the recursive-CTE
    workload (org charts, category trees, BOM explosion) Spark SQL has
    no operator for, computed in O(log depth) self-joins by pointer
    doubling instead of the depth-many iterations a literal recursive
    walk would take.

    ``edges`` holds one row per node: (node, parent); a root points at
    itself. Every parent must itself appear as a node row — a dangling
    parent makes its whole subtree vanish at the first doubling (the
    composition join is inner); validate upstream if the hierarchy may
    be truncated. Invariant per round: state(x) = (cur, d) means cur is x's
    2^k-th ancestor (clamped at its root) and d the real hop count to
    it. Doubling composes the state with itself — after its 8 rounds
    every node whose depth is <= 2^8 = 256 has cur = its root and d = its
    depth (any realistic hierarchy). The round count is a fixed limit,
    not a convergence test: deeper nodes come back part-way up their
    chain.

    Scale shape: each round is ONE equi-join of the state with itself on
    the node key — 8 narrow shuffles total regardless of depth.
    """
    seed = edges.select(
        F.col("node"),
        F.when(F.col("parent") == F.col("node"), F.col("node"))
        .otherwise(F.col("parent"))
        .alias("cur"),
        F.when(F.col("parent") == F.col("node"), F.lit(0))
        .otherwise(F.lit(1))
        .cast("long")
        .alias("depth"),
    )

    def step(state: DataFrame) -> DataFrame:
        hop = state.select(
            F.col("node").alias("j_node"),
            F.col("cur").alias("j_cur"),
            F.col("depth").alias("j_depth"),
        )
        return state.join(hop, state["cur"] == hop["j_node"]).select(
            "node",
            F.col("j_cur").alias("cur"),
            (F.col("depth") + F.col("j_depth")).alias("depth"),
        )

    state = _fixpoint(seed, step, 8, reads_twice=True)
    return state.select("node", F.col("cur").alias("root_key"), "depth")


def _degrees(e: DataFrame) -> DataFrame:
    """(node, degree) over an undirected (id_a, id_b) edge list."""
    return (
        e.select(F.col("id_a").alias("node"))
        .unionAll(e.select(F.col("id_b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )


def k_core(edges: DataFrame) -> DataFrame:
    """Nodes of the 6-core: the maximal subgraph where every node keeps
    degree >= 6 — the dense-subgraph miner behind collusion/spam-farm
    detection (a review ring or engagement farm survives peeling; organic
    long-tail activity does not). Batagelj-Zaversnik peeling, distributed:
    each round drops nodes with degree < 6 and the edges touching them,
    until a fixpoint. Rounds are peel DEPTH (shallow for real graphs),
    bounded by 50.

    ``edges`` is (id_a, id_b) undirected, self-loops ignored. Returns
    (node, degree) of the surviving core with IN-CORE degrees.

    Each round: one degree groupBy (map-side combined) + two semi-joins
    of the shrinking edge list — and the edge list ONLY shrinks, so late
    rounds cost less than early ones, and a round that peels nothing
    (the same edge count as the round before) is the fixpoint.
    """

    def step(cur: DataFrame) -> DataFrame:
        keep = _degrees(cur).filter(F.col("degree") >= 6).select("node")
        return (
            cur.join(keep.withColumnRenamed("node", "id_a"), "id_a", "left_semi")
            .join(keep.withColumnRenamed("node", "id_b"), "id_b", "left_semi")
            .select("id_a", "id_b")
        )

    sizes: list[int] = []  # edge count of each round, counted once

    def peeled_nothing(new: DataFrame, old: DataFrame) -> bool:
        # each call compares a round with the one before
        if not sizes:
            sizes.append(old.count())
        sizes.append(new.count())
        return sizes[-1] == sizes[-2]

    seed = edges.filter(F.col("id_a") != F.col("id_b")).select("id_a", "id_b").distinct()
    return _degrees(_fixpoint(seed, step, 50, peeled_nothing, name="k_core"))


def hits_int(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, hub, auth): two-round HITS in exact unnormalized int64.

    Kleinberg's mutual-reinforcement pair — hub(i) = sum of auth over
    i's out-neighbors, auth(j) = sum of hub over j's in-neighbors —
    seeded at auth = 1 and run for 2 full (hub, auth)
    rounds WITHOUT the usual L2 normalization. Dropping the
    normalization is what makes the scores exact integers (every update
    is a sum of int64s), so two engines agree bit-for-bit; the rank
    order each round is identical to the normalized iterate because
    normalization is a positive scalar. Growth is bounded by
    max_degree^4 — with the LSH similarity graph's capped
    bucket degrees, 2 rounds stay far inside int64 even at corpus
    scale (deg 200 -> 1.6e9).

    The state is one (id, hub, auth) frame; each half-round is one join
    + one groupBy shuffle over the edge list. A round reads its fresh hub
    scores twice (the auth update and the output row), so the previous
    state is read twice per round.
    """
    ids = nodes.select("id")

    def step(state: DataFrame, sym: DataFrame) -> DataFrame:
        hub_sum = (
            sym.join(state, sym.dst == state.id)
            .groupBy("src")
            .agg(F.sum("auth").alias("s"))
        )
        hub = ids.join(hub_sum, ids.id == hub_sum.src, "left").select(
            "id", F.coalesce("s", F.lit(0)).cast("long").alias("hub")
        )
        auth_sum = (
            sym.join(hub, sym.src == hub.id)
            .groupBy("dst")
            .agg(F.sum("hub").alias("s"))
        )
        return hub.join(auth_sum, hub.id == auth_sum.dst, "left").select(
            "id", "hub", F.coalesce("s", F.lit(0)).cast("long").alias("auth")
        )

    seed = ids.select(
        "id", F.lit(0).cast("long").alias("hub"), F.lit(1).cast("long").alias("auth")
    )
    sym = edges.select("src", "dst")
    return _fixpoint(seed, step, 2, edges=sym, reads_twice=True)


def label_propagation_int(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """(id, label): synchronous label-propagation communities with a
    deterministic tie-break — the cheap community detector (Raghavan et
    al.) curation runs on a similarity graph to find topical groups
    coarser than connected components but finer than the whole graph.

    Every node starts labeled with its own id; each round it adopts the
    label occurring MOST among its in-neighbors (count desc, then
    smallest label — the tie-break that makes the classical randomized
    update deterministic and engine-independent). Isolated nodes keep
    their own label. Updates are synchronous (all nodes read the
    previous round's labels), so the result of the 3 rounds is a pure
    function of the edge set — exactly reproducible by an unrolled
    SQL oracle, unlike the asynchronous variant whose result depends on
    visit order.

    Per round: one join (edges x labels) + one (dst, label) count + one
    per-dst struct-max argmax — all keyed shuffles over the EDGE list;
    label frames are 2-long rows per node, read twice per round (by the
    neighbor count and by the update join).
    """
    ids = nodes.select("id")

    def step(labels: DataFrame, sym: DataFrame) -> DataFrame:
        counts = (
            sym.join(labels, sym.src == labels.id)
            .groupBy("dst", "label")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax by (cnt desc, label asc) as a struct-max aggregation:
        # max(struct(cnt, -label)) picks the largest count, then the
        # largest negated label = the SMALLEST label — the same
        # deterministic tie-break as a row_number window, but
        # map-side-combinable and sort-free (one hash agg keyed by dst
        # instead of a full partition sort)
        winner = (
            counts.groupBy("dst")
            .agg(
                F.max(
                    F.struct(
                        F.col("cnt"), (-F.col("label")).alias("neg_label")
                    )
                ).alias("m")
            )
            .select(
                F.col("dst").alias("id"), (-F.col("m.neg_label")).alias("nlab")
            )
        )
        # labels is ids-complete by construction (seeded from ids and
        # rebuilt ids-sized every round), so the update left-joins the
        # winners straight onto the previous labels — no ids re-join
        return labels.join(winner, "id", "left").select(
            "id", F.coalesce("nlab", "label").alias("label")
        )

    seed = ids.select("id", F.col("id").alias("label"))
    sym = edges.select("src", "dst")
    return _fixpoint(seed, step, 3, edges=sym, reads_twice=True)


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """(id, degree, n_triangles, coeff6): local clustering coefficient
    over an undirected edge list (id_a < id_b canonical) — closed wedges
    / possible wedges per node, the density score that separates a
    genuine near-dup COMMUNITY (neighbors know each other, coeff -> 1)
    from a hub-and-spoke LSH false-positive bucket (star around one doc,
    coeff -> 0). Nodes of degree >= 2 are reported; triangle credits
    come from :func:`triangle_count` (two equi-joins, sum(deg^2) wedge
    budget), degrees from one symmetric count — the coefficient itself
    is a scalar per node, ROUND(2t / d(d-1), 6)."""
    deg = (
        edges.select(F.col("id_a").alias("id"))
        .unionAll(edges.select(F.col("id_b").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    tri = triangle_count(edges)
    return (
        deg.join(tri, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("coeff6"),
        )
    )
