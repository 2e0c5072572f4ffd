"""A9 — transitive clustering: large-star/small-star connected components.

The reference links each mention independently, so its "clusters" are
implicit groupBy(entity) classes. The north_rule requires explicit
transitive closure over the accepted-link edge list; we run the
large-star/small-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond") as iterative DataFrame self-aggregations:

- large-star: for every node u, connect its LARGER neighbors to
  m(u) = min(N(u) ∪ {u})
- small-star: connect its smaller-or-equal neighbors to m(u)

Both are one groupBy per round (min + explode) — no joins — and converge
in O(log n) rounds; on the ER graph (mention-entity stars) 2-3 rounds.
Each round ``localCheckpoint``s to truncate lineage (north_rule:
checkpointed iterations); convergence is detected with an order-insensitive
edge-set signature (sum of xxhash64) computed in the SAME action that
materializes the checkpoint — one pass per round.

Node ids are int64 (xxhash64 of the string key): windows/aggregations on
longs shuffle ~5x less than on url-length strings at 10^12-edge scale.
A final window ``min(mention_key) OVER (PARTITION BY component)`` picks
the canonical cluster id per component — one shuffle, no join back.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _canonical_edges(edges: DataFrame) -> DataFrame:
    """Orient (u,v) as (big, small). Pure map — NO distinct: every star
    round aggregates with collect_set, which dedups for free; paying a
    full shuffle per round just to pre-shrink duplicates costs more than
    carrying them one hop (they collapse at the next groupBy anyway)."""
    e = edges.selectExpr("u", "v").where(F.col("u") != F.col("v"))
    return e.select(F.greatest("u", "v").alias("u"),
                    F.least("u", "v").alias("v"))


def _large_star(edges: DataFrame) -> DataFrame:
    """Emit (larger-neighbor v, m) for m = min(N(u) ∪ {u})."""
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v")))
    grouped = sym.groupBy("u").agg(
        F.min("v").alias("minv"), F.collect_set("v").alias("nbrs")
    )
    m = F.least(F.col("u"), F.col("minv"))
    return (
        grouped.select(m.alias("m"), F.col("u"),
                       F.explode("nbrs").alias("v"))
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Edges oriented (u > v); connect all small neighbors + u to the min."""
    grouped = edges.groupBy("u").agg(
        F.min("v").alias("m"), F.collect_set("v").alias("nbrs")
    )
    out_nbrs = (
        grouped.select("u", "m", F.explode("nbrs").alias("v"))
        .where(F.col("v") != F.col("m"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )
    out_self = grouped.select(F.col("u"), F.col("m").alias("v"))
    return out_nbrs.union(out_self)


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """edges: (u BIGINT, v BIGINT). Returns (node BIGINT, component BIGINT)
    with component = min node id of the component."""
    # no checkpoint before round 1: _canonical_edges is a pure map now,
    # so materializing it separately would only add a barrier
    cur = _canonical_edges(edges)
    prev_sig = None
    for _i in range(max_iter):
        cur = _canonical_edges(_small_star(_large_star(cur)))
        cur = cur.localCheckpoint()
        # convergence signature over the edge MULTISET: sum+xor of the
        # per-edge hash so duplicate edges cannot cancel out of the xor
        # (an even-multiplicity edge is invisible to bit_xor alone)
        sig = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
            # decimal accumulator: sum of 10^12 64-bit values stays well
            # inside decimal(38,0); a bigint sum overflows under ANSI mode
            F.expr("sum(cast(xxhash64(u, v) as decimal(38, 0)))").alias("s"),
        ).collect()[0]
        sig = (sig["n"], sig["h"], sig["s"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # converged: every edge is (node, root)
    roots = cur.select(F.col("v").alias("node"),
                       F.col("v").alias("component")).distinct()
    members = cur.select(F.col("u").alias("node"),
                         F.col("v").alias("component"))
    return members.union(roots).distinct()


def cluster_mentions(links: DataFrame,
                     pair_edges: DataFrame | None = None) -> DataFrame:
    """links: (url, start, mention_key, pred_qcode NULLABLE);
    pair_edges (optional): accepted mention-mention pairs
    (key_a STRING, key_b STRING), e.g. LSH-block pairs with score >= tau.

    Returns (url, start, cluster_id STRING) where cluster_id is the min
    mention_key of the transitive cluster; unlinked mentions are singletons.

    Scale design — STAR CONTRACTION before the iterative CC:
    the mention->entity assignment edges form a bipartite star set by
    construction (every mention has at most ONE predicted entity), so
    they contribute nothing iterative to the closure — running
    large-star/small-star over all 10^12 of them would shuffle the full
    mention table per round. Instead the graph is contracted to the
    ENTITY level first (each mention-mention pair edge becomes an edge
    between the two anchors' components-by-assignment), the iterative
    large-star/small-star closure runs on that contracted graph —
    |entities| nodes, |accepted pairs| edges, orders of magnitude
    smaller — and one join expands components back over mentions (none
    without pair edges: the closure is then the identity on anchors, and
    the cluster-id window is the plan's only shuffle).
    This is exactly one large-star application done algebraically; the
    generic iterations still handle arbitrary pair topologies.
    """
    return cluster_refresh(links, pair_edges)["clusters"]


def _anchored(links: DataFrame) -> DataFrame:
    """(mention_key, anchor): anchor = the mention's entity hash if
    assigned, else its own key hash. Only these two columns ride the
    clustering shuffles; url/start are derived from mention_key at
    output (see candidates.url_from_mention_key)."""
    nodes = links.select(
        "mention_key",
        F.xxhash64("mention_key").alias("nid"),
        F.when(F.col("pred_qcode").isNotNull(),
               F.xxhash64(F.concat(F.lit("e:"), F.col("pred_qcode"))))
        .alias("eid"),
    )
    return nodes.select(
        "mention_key",
        F.coalesce("eid", "nid").alias("anchor"))


def _contracted(anchored: DataFrame, pair_edges: DataFrame) -> DataFrame:
    """Mention-mention pair edges → anchor-anchor (u, v) edges of the
    entity-contracted graph."""
    a = anchored.select(F.col("mention_key").alias("key_a"),
                        F.col("anchor").alias("u"))
    b = anchored.select(F.col("mention_key").alias("key_b"),
                        F.col("anchor").alias("v"))
    return (pair_edges.join(a, "key_a").join(b, "key_b")
            .select("u", "v"))


def cluster_refresh(links: DataFrame,
                    pair_edges: DataFrame | None = None,
                    prev_components: DataFrame | None = None,
                    ) -> dict[str, DataFrame]:
    """Periodic A9 refresh over an ACCUMULATED link sink — the batch leg
    of the continuous-ER shape (streaming/linking.py streams the
    per-document link stages; clustering is a whole-graph fixed point,
    so it re-runs here each period over everything linked so far).

    ``prev_components`` is the previous refresh's contracted component
    frame. Incrementality rests on the union-find edge identity
    ``CC(E_old ∪ E_new) == CC(assignment_edges(CC(E_old)) ∪ E_new)``:
    a closed component is exactly reconstructible from its (node →
    component) assignment rows, which are themselves valid edges — so
    this refresh closes over |previous components| + |new pair edges|
    edges instead of re-walking the full pair-edge history, and the
    already-closed part converges in one round (every old edge is
    already (node, min)). At web scale the component frame is
    entity-contracted (|entities| rows, not |mentions| or |pairs|) —
    the only state the periodic job carries forward.

    Returns ``{'clusters', 'components'}``: clusters is the
    (url, start, cluster_id) output over the full sink; persist
    components and feed it back as ``prev_components`` next period.
    """
    anchored = _anchored(links)
    edge_parts = []
    if pair_edges is not None:
        edge_parts.append(_contracted(anchored, pair_edges))
    if prev_components is not None:
        edge_parts.append(prev_components.select(
            F.col("node").alias("u"), F.col("component").alias("v")))

    if edge_parts:
        edges = edge_parts[0]
        for e in edge_parts[1:]:
            edges = edges.union(e)
        comp = connected_components(edges)
        with_comp = anchored.join(
            comp, anchored.anchor == comp.node, "left"
        ).select(
            "mention_key",
            F.coalesce("component", "anchor").alias("component"),
        )
    else:
        # no pair edges: the contracted graph is empty, so the closure is
        # the identity on anchors — skip the (empty) iterations outright
        comp = links.sparkSession.createDataFrame(
            [], "node: long, component: long")
        with_comp = anchored.select(
            "mention_key",
            F.col("anchor").alias("component"),
        )
    from .candidates import start_from_mention_key, url_from_mention_key
    clusters = with_comp.select(
        url_from_mention_key().alias("url"),
        start_from_mention_key().alias("start"),
        F.min("mention_key").over(Window.partitionBy("component"))
        .alias("cluster_id"),
    )
    return {"clusters": clusters, "components": comp}
