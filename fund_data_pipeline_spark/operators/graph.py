"""Connected components for dedup clustering (iterative label propagation).

The last stage of a fuzzy-dedup pipeline: LSH blocking yields candidate
*pairs*, but keep/drop decisions need *clusters* (A~B, B~C => {A,B,C} even
when A,C never collide). Cluster id = min node id reachable through the
edge set — computed by min-label propagation to a fixpoint:

    label(v) <- min(label(v), min over neighbors u of label(u))

Each iteration is one shuffle (edges join labels + min-aggregate); the loop
runs until no label changes, i.e. graph-diameter iterations. Near-dup
graphs are unions of small dense blobs (diameter 2-4), so 3-5 iterations
is typical regardless of row count. For graphs that DON'T converge fast —
long chains, threaded near-dup runs — propagation hands off after
``_CC_PROPAGATION_ROUNDS`` rounds to alternating large-star/small-star
contraction on the edge set (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14): O(log^2 n) rounds worst case, ~log n in
practice, each round two grouped joins over the current edge relation.
The cheap propagation rounds stay first because they settle the common
small-diameter case without ever materializing contracted edge sets.

Scale notes:
- The edge relation is the id-only PROXY of the corpus: when its canonical
  form fits a broadcast-sized driver bound (``CC_COLLECT_MAX_EDGES``), the
  whole computation is ONE bounded collect + vectorized union-find + ONE
  broadcast join — no iteration at all (r17; the cost model of a broadcast
  hash join build side, guide §3.1). Star-contraction rounds re-probe the
  bound, so even a giant graph finishes on the driver once contraction
  shrinks the survivor set under it.
- ``localCheckpoint`` truncates the lineage each round, keeping the plan
  O(1) instead of O(iterations) (classic iterative-algorithm pitfall).
- Above the bound the driver sees only a changed-row *count* per round —
  no row data.
- Above the bound edges are canonicalized into one pinned relation that
  feeds both the symmetric relation and the star seed, and symmetrized
  once up front;
  the per-round join shuffles on the node id, so pre-partitioning labels
  and edges on that key makes every round's shuffle a cheap co-partitioned
  join on a real cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge form: (src > dst), no self-loops, distinct."""
    return (
        e.select(F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


#: Driver-side union-find bound (edges). The candidate-pair relation of a
#: dedup pipeline is the LIGHTWEIGHT proxy of the corpus (ids only), and
#: after LSH blocking it is orders of magnitude smaller than the corpus —
#: at or under this many edges the component structure is resolved on the
#: driver in one numpy pass instead of shuffle-per-round iteration. 2M
#: bigint pairs cross as ~32 MB of Arrow — the same size class as a
#: broadcast-join build side (guide §3.1), with the same failure mode
#: (driver memory), which is why the bound exists.
CC_COLLECT_MAX_EDGES = 2_000_000

#: Propagation rounds before the switch to star contraction. Near-dup blobs
#: (diameter 2-4) converge inside it; a graph still changing after it is
#: long-diameter, where contraction's ~log n rounds beat propagation's
#: ~diameter rounds.
_CC_PROPAGATION_ROUNDS = 5

#: Round cap over both distributed phases together. Reaching it raises:
#: unconverged labels would silently split components.
_CC_MAX_ROUNDS = 50


def _host_min_labels(pdf):
    """Min-reachable-id labels for a COLLECTED edge list: vectorized
    union-find. Each pass hooks the larger ROOT of every edge whose two
    roots differ under the smaller one (numpy ``minimum.at`` over the edge
    arrays, O(E)), then compresses every path fully, so each pointer ends
    on a root again. A pointer never exceeds its own index, so the root of
    a component is its minimum. Hooking roots rather than endpoints is
    what bounds the pass count: min-label passes over the endpoints needed
    ~diameter passes on a long path (61,661 on a permuted 100k-node path,
    11 with root hooking; SCALING.md r27). Returns a pandas DataFrame
    (node, label) covering every edge endpoint.

    Exact same fixpoint as the distributed phases: every node labeled with
    the minimum reachable id. ``np.unique`` sorts ascending — for strings
    that is code-point order, which equals Spark's UTF8_BINARY ``least``/
    ``min`` ordering (UTF-8 byte order preserves code points) — so the
    index-space minimum IS the id-space minimum."""
    import numpy as np
    import pandas as pd

    a = pdf["src"].to_numpy()
    b = pdf["dst"].to_numpy()
    arr = np.concatenate([a, b])
    uniq, inv = np.unique(arr, return_inverse=True)
    ia, ib = inv[: len(a)], inv[len(a):]
    p = np.arange(len(uniq))
    while True:
        ra, rb = p[ia], p[ib]
        split = ra != rb
        if not split.any():
            break
        np.minimum.at(p, np.maximum(ra, rb)[split], np.minimum(ra, rb)[split])
        while True:  # full path compression
            pp = p[p]
            if np.array_equal(pp, p):
                break
            p = pp
    return pd.DataFrame({"node": uniq, "label": uniq[p]})


def _labels_from_host_pairs(
    spark, seed: DataFrame, pdf, edge_type, union_endpoints: bool
) -> DataFrame:
    """Union-find the collected pairs on the driver, broadcast the (node,
    label) mapping back, and label ``seed`` with one broadcast join —
    singletons (no mapping row) label themselves, exactly as the
    propagation seed does. ``union_endpoints`` adds the mapping keys to the
    seed (callers whose seed already contains every edge endpoint skip the
    extra union+distinct pass). Returns (node, cluster_id)."""
    from pyspark.sql import types as T

    host = _host_min_labels(pdf)
    schema = T.StructType(
        [
            T.StructField("node", edge_type, True),
            T.StructField("__cc_label", edge_type, True),
        ]
    )
    mapping = spark.createDataFrame(host, schema=schema)
    if union_endpoints:
        seed = seed.select("node").union(mapping.select("node")).distinct()
    return seed.join(F.broadcast(mapping), "node", "left").select(
        "node", F.coalesce("__cc_label", F.col("node")).alias("cluster_id")
    )


def _large_star(e: DataFrame) -> DataFrame:
    """Kiveris large-star: every neighbor v > u reconnects to
    m(u) = min(Γ(u) ∪ {u}). One grouped min + one join, both on node id."""
    sym = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("__mn"))
    mins = mins.select("src", F.least(F.col("src"), F.col("__mn")).alias("m"))
    return _canon(
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Kiveris small-star over canonical edges (src > dst): each node's
    smaller neighbors all reconnect to its minimum smaller neighbor."""
    mins = e.groupBy("src").agg(F.min("dst").alias("m"))
    joined = e.join(mins, "src")
    rewired = joined.filter(F.col("dst") != F.col("m")).select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    centers = mins.select("src", F.col("m").alias("dst"))
    return _canon(rewired.union(centers))


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Return (node, cluster_id): min reachable node id per component.

    ``nodes``: one row per ``node`` id (singletons allowed — they become
    their own cluster). ``edges``: undirected ``src``/``dst`` pairs;
    symmetrized internally. Edge endpoints missing from ``nodes`` are added
    to the label seed (review r10: an endpoint without a label row silently
    broke every path through it — propagation "converged" with the
    component split, while the star fallback would have merged it, so the
    answer depended on which phase happened to finish).

    The route is chosen from the graph alone:

    - Driver union-find (r17, guide §1.2 "the distributed algorithm" +
      §3.1 broadcast sizing): the edge relation is the id-only PROXY of
      the corpus — after LSH blocking it is orders of magnitude lighter
      than the rows it deduplicates — so whenever the canonical edge set
      fits :data:`CC_COLLECT_MAX_EDGES`, the component structure is
      resolved in ONE vectorized union-find on the driver and re-attached
      with ONE broadcast join, the cost model of a broadcast hash join
      build side.
    - Above the bound, min-label propagation runs first. It needs
      ~graph-diameter rounds — right for near-dup blobs (diameter 2-4),
      pathological for chain-shaped graphs.
    - If propagation has not converged within its round budget, the
      operator switches to alternating large-star/small-star contraction on
      the edge set (Kiveris et al., SoCC'14): provably convergent to
      per-component stars centered at the component minimum in O(log^2 n)
      rounds (~log n observed), independent of diameter. Every contraction
      round re-probes the driver bound: star rounds only shrink the edge
      set toward per-component stars, so a graph that starts with billions
      of candidate edges still finishes on the driver once contraction
      brings the survivor set under the bound — only a graph whose
      FIXPOINT star set exceeds the bound ever runs the full distributed
      loop.

    All routes produce the identical fixpoint (min reachable id), pinned by
    the route-equivalence tests. A run that reaches the round cap without
    a fixpoint raises: its components would be silently split.
    """
    bound = CC_COLLECT_MAX_EDGES
    spark = edges.sparkSession
    # NULL endpoints and self-loops are dropped once, here
    canon = _canon(edges)
    # greatest/least coerce src and dst to the wider of their types (the
    # symmetric relation below inherits them), so the driver mapping holds
    # every id
    edge_type = canon.schema["src"].dataType
    probe = canon.limit(bound + 1).toPandas()
    if len(probe) <= bound:
        return _labels_from_host_pairs(
            spark, nodes.select("node"), probe, edge_type, union_endpoints=True
        )

    # pinned only once the probe overflows, so the driver route caches
    # nothing; the symmetric relation and the star seed both read the pin.
    # canon is distinct with src > dst, so it and its mirror are disjoint:
    # their union is already distinct and loop-free
    canon = canon.localCheckpoint(eager=True)
    sym = canon.union(canon.select(F.col("dst").alias("src"), F.col("src").alias("dst")))

    endpoints = sym.select(F.col("src").alias("node"))  # sym already has both directions
    # ONE seed relation for BOTH phases: the star fallback previously
    # rebuilt its labels from ``nodes`` alone, so an edge endpoint missing
    # from ``nodes`` appeared in the result when propagation converged but
    # vanished when the fallback ran — the exact phase-dependence the r10
    # endpoint-seeding fix closed for propagation (review r11)
    seed_nodes = (
        nodes.select("node").union(endpoints).distinct().localCheckpoint(eager=False)
    )
    labels = seed_nodes.select("node", F.col("node").alias("label"))

    max_rounds = _CC_MAX_ROUNDS
    rounds = 0
    while rounds < min(_CC_PROPAGATION_ROUNDS, max_rounds):
        rounds += 1
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias(
                    "label"
                ),
                (F.col("nbr_label") < F.col("label")).alias("__changed"),
            )
        ).localCheckpoint(eager=True)
        n_changed = new_labels.filter(F.col("__changed")).count()
        labels = new_labels.drop("__changed")
        if n_changed == 0:
            return labels.withColumnRenamed("label", "cluster_id")

    # Star contraction: operates on the edge set alone, so the partial
    # propagation labels are discarded (they cost a few cheap rounds,
    # nothing more). Each round is checkpointed — bounded plans regardless
    # of round count.
    e = canon
    while rounds < max_rounds:
        rounds += 1
        new_e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # contraction only shrinks the edge set toward per-component stars
        # (connectivity and the node set are round-invariant), so the
        # moment it fits the driver bound the remainder is one union-find +
        # broadcast join instead of more shuffle rounds and the expensive
        # exceptAll fixpoint probe
        if new_e.count() <= bound:
            return _labels_from_host_pairs(
                spark,
                seed_nodes,
                new_e.toPandas(),
                edge_type,
                union_endpoints=False,  # seed_nodes already holds every endpoint
            )
        if new_e.exceptAll(e).union(e.exceptAll(new_e)).isEmpty():
            # fixpoint edges are stars (v, component_min); nodes without
            # edges are their own cluster
            roots = e.groupBy("src").agg(F.min("dst").alias("root"))
            return seed_nodes.join(roots, F.col("node") == F.col("src"), "left").select(
                "node", F.coalesce("root", F.col("node")).alias("cluster_id")
            )
        e = new_e

    raise RuntimeError(
        f"connected_components did not reach a fixpoint within {max_rounds} "
        f"rounds (propagation + star contraction) — cluster ids would be split"
    )


def flatten_hierarchy(
    edges: DataFrame,
    child_col: str = "child",
    parent_col: str = "parent",
    nodes: DataFrame | None = None,
    node_col: str = "node",
    max_depth: int = 64,
    validate: bool = True,
) -> DataFrame:
    """Resolve every node of a parent-pointer forest to its root and depth
    — the recursive-CTE shape (BOM explosion, org-chart rollup, the
    reference's holdings->fund->master ancestry) over a REAL edge table.

    ``edges``: one (child, parent) row per non-root node; a NULL parent
    marks an explicit root. ``nodes`` (optional): the full node relation —
    any node without an edge row is a root; defaults to children UNION
    parents of the edge set. Returns (node, root, depth) with depth 0 for
    roots.

    Spark has no recursive CTE, so the walk is iterative — but NOT one
    join per level (depth shuffles for a depth-D tree). Each round joins
    the pointer relation with itself on the current ancestor, composing
    pointers: a node knowing its 2^k-step ancestor learns that ancestor's
    own 2^k-step ancestor — classic pointer doubling (Wyllie '79 list
    ranking; the same trick GraphFrames/ GraphX use for path queries). The
    chased distance doubles per round, so ceil(log2(max_depth)) shuffles
    resolve ANY depth up to max_depth: a million-level chain costs 20
    rounds, not a million. Depths accumulate exactly (dist_a + dist_b per
    composition), each round is one keyed equi-join + localCheckpoint
    (lineage stays O(1)), and the driver sees only the unresolved COUNT.

    A cycle (corrupt edge data) never resolves, and neither does a chain
    deeper than ``max_depth``: after the round budget any unresolved row
    raises — neither a silent infinite loop nor a silently shortened
    result is an option.
    ``validate=True`` (default) also refuses a child with two parent rows
    up front (one extra aggregation over the edge set; disable when the
    feed is already constrained).
    """
    import math

    e = edges.select(
        F.col(child_col).alias("node"), F.col(parent_col).alias("anc")
    )
    if validate:
        dup = (
            e.filter(F.col("node").isNotNull())
            .groupBy("node").count().filter(F.col("count") > 1).limit(1).collect()
        )
        if dup:
            raise ValueError(
                f"flatten_hierarchy: node {dup[0]['node']!r} has multiple parent "
                f"rows — a parent-pointer forest allows one; dedupe the edges"
            )
    all_nodes = (
        (
            nodes.select(F.col(node_col).alias("node"))
            if nodes is not None
            else e.select("node").union(
                e.select(F.col("anc").alias("node")).filter(F.col("anc").isNotNull())
            )
        )
        .distinct()
        # a NULL child (malformed edge row) is not a node: without this it
        # rode through the root-seeding left join as a spurious
        # (null, null, 0) result row (review r13)
        .filter(F.col("node").isNotNull())
    )

    # pointer relation: (node, anc, depth, done). Roots point at themselves
    # with depth 0 so composition needs no outer-join special case.
    ptr = (
        all_nodes.join(e.filter(F.col("anc").isNotNull()), "node", "left")
        .select(
            "node",
            F.coalesce("anc", F.col("node")).alias("anc"),
            F.when(F.col("anc").isNull(), F.lit(0)).otherwise(F.lit(1)).alias("depth"),
            F.col("anc").isNull().alias("done"),
        )
        .localCheckpoint(eager=True)
    )
    rounds = max(1, math.ceil(math.log2(max(2, max_depth)))) + 1
    # pending/resolved split (review r11): only PENDING rows step and
    # re-checkpoint each round — in a typical shallow forest almost every
    # row is done after round 1, and carrying them through every remaining
    # round re-joined and re-materialized ~the whole relation per round
    # for rows whose (anc, depth, done) cannot change. The b-side join
    # target must stay the FULL relation (a pending row's ancestor may be
    # resolved), assembled as a union over the per-round checkpoints —
    # plan size O(rounds), rounds <= log2(max_depth) + 1.
    pending = ptr.filter(~F.col("done"))
    resolved_parts = [ptr.filter(F.col("done"))]
    for _ in range(rounds):
        if pending.isEmpty():
            break
        full = pending
        for part in resolved_parts:
            full = full.union(part)
        a, b = pending.alias("a"), full.alias("b")
        # left join: an ancestor missing from the node set (dangling parent
        # under an explicit ``nodes`` relation) is a terminal — the row
        # resolves there instead of silently vanishing from the result
        dangling = F.col("b.node").isNull()
        stepped = (
            a.join(b, F.col("a.anc") == F.col("b.node"), "left")
            .select(
                F.col("a.node").alias("node"),
                F.when(dangling, F.col("a.anc")).otherwise(F.col("b.anc")).alias("anc"),
                F.when(dangling, F.col("a.depth"))
                .otherwise(F.col("a.depth") + F.col("b.depth"))
                .alias("depth"),
                (dangling | F.col("b.done")).alias("done"),
            )
            .localCheckpoint(eager=True)
        )
        resolved_parts.append(stepped.filter(F.col("done")))
        pending = stepped.filter(~F.col("done"))
    if not pending.isEmpty():
        raise RuntimeError(
            f"flatten_hierarchy: nodes unresolved after {rounds} doubling rounds "
            f"(chase bound 2^{rounds}) — a cycle in the edge data or depth > "
            f"max_depth={max_depth}"
        )
    ptr = resolved_parts[0]
    for part in resolved_parts[1:]:
        ptr = ptr.union(part)
    return ptr.select("node", F.col("anc").alias("root"), F.col("depth").cast("int").alias("depth"))
