"""Multi-relationship graph (SURVEY §2 A9/J8 breadth): several edge
FAMILIES from different evidence tables merged into one weighted
multigraph with per-edge per-type counts — the reference builds its
people graph exactly this way, folding three relationship types
(initiative co-membership, research-group co-membership, advisorship
pairs) into one NetworkX graph whose edges carry a ``<type>_count``
per family, a total ``weight``, and a ``relation_types`` list, and
whose nodes carry ``degree`` / ``weighted_degree`` rollups
(/root/reference/src/core/logic/people_relationship_graph_generator.py:
366-434 `_add_*_relationships`, 436-452 `_finalize_graph`).

Spark-first shape (NOT a row-at-a-time ``itertools.combinations``
port): every family is a BLOCKED self- or equi-join —

* ``cosupply``  (S–S): suppliers co-occurring in an order; pair
  generation blocked per ``l_orderkey`` over the distinct
  (order, supplier) set, weight = co-supplied orders.
* ``copart``    (S–S): suppliers supplying the same part; blocked per
  ``l_partkey``, weight = co-supplied parts.
* ``trade``     (C–S): customer→supplier evidence pairs from
  ``orders ⋈ lineitem`` (the advisorship slot: a directed pair read
  straight off a fact table), weight = lineitems.

Blocking keys (order, part) have bounded fan-out, so pair counts are
Σ C(block,2) — never an unblocked cross join; the merge and the degree
rollup are plain groupBys on (src, dst) / node.  At 100 TB each family
is a shuffle equi-join on its blocking key and the merged graph is one
more hash aggregation — the same plan family as the CDC merges.

Node ids are namespaced ('S'+suppkey, 'C'+custkey) exactly as the
reference normalizes person ids before merging families
(people_relationship_graph_generator.py:478-487).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from horizon_etl_spark.queries.registry import register, table

RELATION_TYPES = ("cosupply", "copart", "trade")


def _pair_family(df: DataFrame, block: str, member: str, rel_type: str) -> DataFrame:
    """Within-block unordered pair generation + weight rollup: distinct
    (block, member) → pairs (a < b) per block → weight = #blocks the
    pair co-occurs in.  The reference's ``combinations(sorted(...), 2)``
    per initiative/group (people_relationship_graph_generator.py:383,
    403-404) as one blocked self-join."""
    m = df.select(block, member).distinct()
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{block}") == F.col(f"b.{block}"))
            & (F.col(f"a.{member}") < F.col(f"b.{member}")),
        )
        .groupBy(
            F.concat(F.lit("S"), F.col(f"a.{member}").cast("string")).alias("src"),
            F.concat(F.lit("S"), F.col(f"b.{member}").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .select(F.lit(rel_type).alias("rel_type"), "src", "dst", "w")
    )


def relationship_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-family weighted edge lists, one frame:
    (rel_type, src, dst, w)."""
    l = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    cosupply = _pair_family(l, "l_orderkey", "l_suppkey", "cosupply")
    copart = _pair_family(l, "l_partkey", "l_suppkey", "copart")
    trade = (
        l.select("l_orderkey", "l_suppkey")
        .join(o.select("o_orderkey", "o_custkey"), l.l_orderkey == o.o_orderkey)
        .groupBy(
            F.concat(F.lit("C"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("S"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .select(F.lit("trade").alias("rel_type"), "src", "dst", "w")
    )
    return cosupply.unionByName(copart).unionByName(trade)


def relationship_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged multigraph edge table: one row per (src, dst) with
    per-type counts, total weight, and the ``relation_types`` list —
    the reference's edge payload (`_increment_edge` counters +
    `_finalize_graph` relation_types, people_relationship_graph_
    generator.py:436-452)."""
    fam = relationship_families(spark, sf_dir)
    per_type = [
        F.coalesce(
            F.sum(F.when(F.col("rel_type") == t, F.col("w"))), F.lit(0)
        )
        .cast("long")
        .alias(f"{t}_count")
        for t in RELATION_TYPES
    ]
    e = fam.groupBy("src", "dst").agg(
        *per_type,
        F.sum("w").cast("long").alias("weight"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    types_arr = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(F.col(f"{t}_count") > 0, F.lit(t))
                    for t in RELATION_TYPES
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return e.withColumn("relation_types", types_arr)


def relationship_degrees(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """Node rollup over the merged graph: (node, kind, degree,
    weighted_degree) — `_finalize_graph`'s degree / weighted-degree
    node attributes.  Pass precomputed (persisted) ``edges`` to share
    one family scan with an edge consumer."""
    e = edges if edges is not None else relationship_edges(spark, sf_dir)
    ends = e.select(F.col("src").alias("node"), "weight").unionByName(
        e.select(F.col("dst").alias("node"), "weight")
    )
    return ends.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("weight").cast("long").alias("weighted_degree"),
    ).withColumn(
        "kind",
        F.when(F.col("node").startswith("S"), F.lit("supplier")).otherwise(
            F.lit("customer")
        ),
    )


def _degree_md5(edges: DataFrame) -> DataFrame:
    """Per-group degree-multiset witness: groupBy rel_type → for each
    node (degree, weighted_degree), folded into one md5 over the
    sorted ``node:degree:wdeg`` strings.  A TEST/driver witness (the
    collect_list is per rel_type over the sf0.01 node set); the
    production surface at scale is the ``relationship_degrees``
    DataFrame itself."""
    ends = edges.select("rel_type", F.col("src").alias("node"), "w").unionByName(
        edges.select("rel_type", F.col("dst").alias("node"), "w")
    )
    deg = ends.groupBy("rel_type", "node").agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("w").cast("long").alias("wdeg"),
    )
    s = F.concat_ws(":", "node", "degree", "wdeg")
    return deg.groupBy("rel_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.md5(F.concat_ws("|", F.sort_array(F.collect_list(s)))).alias(
            "degree_md5"
        ),
    )


@register(
    "relationship_graph_summary",
    oracle="""
    WITH os AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
    ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    fam AS (
      SELECT 'cosupply' AS rel_type,
             'S' || a.l_suppkey AS src, 'S' || b.l_suppkey AS dst,
             COUNT(*) AS w
      FROM os a JOIN os b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 2, 3
      UNION ALL
      SELECT 'copart', 'S' || a.l_suppkey, 'S' || b.l_suppkey, COUNT(*)
      FROM ps a JOIN ps b
        ON a.l_partkey = b.l_partkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 2, 3
      UNION ALL
      SELECT 'trade', 'C' || o.o_custkey, 'S' || l.l_suppkey, COUNT(*)
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 2, 3
    ),
    merged AS (
      SELECT 'all' AS rel_type, src, dst, SUM(w) AS w,
             COUNT(DISTINCT rel_type) AS n_types
      FROM fam GROUP BY src, dst
    ),
    edgesets AS (
      SELECT rel_type, src, dst, w FROM fam
      UNION ALL
      SELECT rel_type, src, dst, w FROM merged
    ),
    sums AS (
      SELECT rel_type, CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(w) AS BIGINT) AS total_weight
      FROM edgesets GROUP BY rel_type
    ),
    deg AS (
      SELECT rel_type, node, CAST(COUNT(*) AS BIGINT) AS degree,
             CAST(SUM(w) AS BIGINT) AS wdeg
      FROM (
        SELECT rel_type, src AS node, w FROM edgesets
        UNION ALL
        SELECT rel_type, dst AS node, w FROM edgesets
      ) GROUP BY rel_type, node
    ),
    hashes AS (
      SELECT rel_type, CAST(COUNT(*) AS BIGINT) AS n_nodes,
             md5(string_agg(node || ':' || degree || ':' || wdeg, '|'
                 ORDER BY node || ':' || degree || ':' || wdeg))
               AS degree_md5
      FROM deg GROUP BY rel_type
    )
    SELECT s.rel_type, s.n_edges, s.total_weight, h.n_nodes,
           CASE WHEN s.rel_type = 'all'
                THEN (SELECT CAST(COUNT(*) AS BIGINT) FROM merged
                      WHERE n_types >= 2)
                ELSE CAST(0 AS BIGINT) END AS multi_type_edges,
           h.degree_md5
    FROM sums s JOIN hashes h ON s.rel_type = h.rel_type
    """,
)
def relationship_graph_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable witness for the multi-relationship graph: one
    row per edge family + one for the merged multigraph ('all'), each
    carrying edge count, total weight, node count, multi-type edge
    count, and an md5 over the full (node, degree, weighted_degree)
    multiset — so the driver hash proves every family's pair
    generation, the cross-family merge, AND the degree rollup
    (supersedes the single-family ``cosupply_weighted_degree`` row:
    its A9 weighted-degree check is the 'cosupply' family hash here).
    Reference semantics: people_relationship_graph_generator.py:
    366-452 (three `_add_*_relationships` + `_finalize_graph`)."""
    fam = relationship_families(spark, sf_dir)
    merged = (
        fam.groupBy("src", "dst")
        .agg(
            F.sum("w").alias("w"),
            F.countDistinct("rel_type").alias("n_types"),
        )
        .select(F.lit("all").alias("rel_type"), "src", "dst", "w", "n_types")
    )
    edgesets = fam.withColumn("n_types", F.lit(1)).unionByName(merged)
    # ONE pass over the ends frame yields every output column: no
    # family has self-loops (a<b pair generation; trade is C→S), so
    # each edge contributes exactly two end rows and the edge-grain
    # sums recover exactly as half the node-grain sums — this keeps
    # the expensive fam subtree at two plan instances (edgesets +
    # merged) instead of four (the old sums⋈hashes join duplicated
    # the whole edgesets subtree).
    ends = edgesets.select(
        "rel_type", F.col("src").alias("node"), "w", "n_types"
    ).unionByName(
        edgesets.select("rel_type", F.col("dst").alias("node"), "w", "n_types")
    )
    deg = ends.groupBy("rel_type", "node").agg(
        F.count(F.lit(1)).cast("long").alias("degree"),
        F.sum("w").cast("long").alias("wdeg"),
        F.sum(F.when(F.col("n_types") >= 2, 1).otherwise(0)).alias("multi_ends"),
    )
    s = F.concat_ws(":", "node", "degree", "wdeg")
    return deg.groupBy("rel_type").agg(
        (F.sum("degree") / 2).cast("long").alias("n_edges"),
        (F.sum("wdeg") / 2).cast("long").alias("total_weight"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        (F.sum("multi_ends") / 2).cast("long").alias("multi_type_edges"),
        F.md5(F.concat_ws("|", F.sort_array(F.collect_list(s)))).alias(
            "degree_md5"
        ),
    ).select(
        "rel_type",
        "n_edges",
        "total_weight",
        "n_nodes",
        "multi_type_edges",
        "degree_md5",
    )


def export_relationship_graph(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    name: str = "relationship_graph",
    source_version: int | None = None,
    kind: str | None = None,
    with_stats: bool = False,
) -> dict:
    """Publish the multigraph as the atomic nodes/edges Parquet pair
    (exports.export_graph) — edges carry ``relation_types`` plus
    per-family counts, nodes carry degree rollups, matching the
    reference's serialized graph payload (people_relationship_graph_
    generator.py:436-452 + export_parquet.py:31-80).  The family scan
    is computed once and shared by both tables via persist.

    ``kind`` publishes the INDUCED subgraph of one node kind
    ('supplier'/'customer': edges where both endpoints match, node
    degrees recomputed within the subgraph) — the reference's
    per-classification subgraph exports
    (people_relationship_graph_generator.py:84-110,
    `_build_classification_subgraph`).  ``with_stats`` folds the
    graph-stats block into the manifest (full graph only)."""
    from horizon_etl_spark.exports import export_graph

    edges = relationship_edges(spark, sf_dir)
    if kind is not None:
        prefix = {"supplier": "S", "customer": "C"}[kind]
        edges = edges.filter(
            F.col("src").startswith(prefix) & F.col("dst").startswith(prefix)
        )
    edges = edges.persist()
    try:
        nodes = relationship_degrees(spark, sf_dir, edges=edges)
        extra = {"node_kind": kind} if kind else None
        if with_stats:
            if kind is not None:
                raise ValueError("with_stats is for the full graph export")
            # share the persisted edge frame — don't recompute the
            # three family self-joins for the stats block
            extra = {"graph_stats": graph_stats(spark, sf_dir, edges=edges)}
        return export_graph(
            spark,
            nodes,
            edges.drop("n_types"),
            out_dir,
            name,
            source_version=source_version,
            extra_manifest=extra,
        )
    finally:
        edges.unpersist()


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Distributed connected components — alternating large-star /
    small-star (Kiveris et al., "Connected Components in MapReduce and
    Beyond"): O(log n) rounds of pure groupBy+join, no driver-side
    graph, which is the shape that survives a 100 TB edge list (the
    reference calls ``nx.connected_components`` on an in-memory graph,
    people_relationship_graph_generator.py:456 — a single-process
    ceiling this replaces).

    Each round: large-star hangs every strictly-larger neighbor of u
    under min(Γ(u) ∪ {u}); small-star re-hangs the smaller-or-equal
    neighborhood the same way.  The edge set converges to a star
    forest; iteration stops when the canonical edge set's
    (count, order-free hash) is a fixed point — each round is
    localCheckpoint'ed so the plan doesn't grow with iterations.

    Returns (node, component) for EVERY node with at least one edge;
    component = the minimum node id in the component (callers union in
    isolated nodes as their own components)."""
    u, v = F.col("u"), F.col("v")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(u != v)
        .select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def signature(df: DataFrame) -> tuple:
        # decimal sum: a long sum of xxhash64 values overflows under
        # ANSI mode
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    def large_star(df: DataFrame) -> DataFrame:
        sym = df.unionByName(df.select(v.alias("u"), u.alias("v")))
        m = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
        return (
            sym.join(m, "u")
            .filter(v > u)
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )

    def small_star(df: DataFrame) -> DataFrame:
        # canonical form already has u > v; min(N(u) ∪ {u}) == min(N(u))
        m = df.groupBy("u").agg(F.min("v").alias("m"))
        hang_neighbors = (
            df.join(m, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        hang_self = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        return (
            hang_neighbors.unionByName(hang_self)
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )

    sig = signature(e)
    for _ in range(max_iter):
        e = small_star(large_star(e)).localCheckpoint(eager=True)
        new_sig = signature(e)
        if new_sig == sig:
            break
        sig = new_sig
    else:
        raise RuntimeError(f"connected_components: no fixed point in {max_iter} rounds")
    # star forest: every edge is (member, root) with root = min of the
    # component; roots appear only on the v side
    return e.select(u.alias("node"), v.alias("component")).unionByName(
        e.select("v").distinct().select(v.alias("node"), v.alias("component"))
    )


def graph_stats(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> dict:
    """The reference's graph-stats block
    (people_relationship_graph_generator.py:454-503): node/edge counts,
    connected components + largest size, per-relation event totals and
    edge presence, node-kind distribution, top-20 by weighted degree —
    every number a bounded aggregate collect (the component step is the
    distributed algorithm above, not an in-memory graph).  Pass a
    precomputed (persisted) ``edges`` frame to share one family scan
    with an exporting caller."""
    owns_edges = edges is None
    edges = (
        relationship_edges(spark, sf_dir).persist() if owns_edges else edges
    )
    try:
        deg = relationship_degrees(spark, sf_dir, edges=edges).persist()
        try:
            totals_row = edges.agg(
                F.count(F.lit(1)).alias("n_edges"),
                *[
                    F.sum(f"{t}_count").cast("long").alias(t)
                    for t in RELATION_TYPES
                ],
                *[
                    F.sum((F.col(f"{t}_count") > 0).cast("long"))
                    .cast("long")
                    .alias(f"{t}_presence")
                    for t in RELATION_TYPES
                ],
            ).collect()[0]
            comps = connected_components(spark, edges)
            comp_sizes = comps.groupBy("component").agg(
                F.count(F.lit(1)).alias("size")
            )
            comp_row = comp_sizes.agg(
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.max("size"), F.lit(0)).alias("largest"),
            ).collect()[0]
            kind_rows = deg.groupBy("kind").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
            top = (
                deg.orderBy(F.desc("weighted_degree"), F.asc("node"))
                .limit(20)
                .collect()
            )
            return {
                "nodes": deg.count(),
                "edges": totals_row["n_edges"],
                # edge-derived graph: every node has >= 1 edge by
                # construction (the reference counts isolates because it
                # seeds nodes from the roster first)
                "isolated_nodes": 0,
                "connected_components": comp_row["n"],
                "largest_component_size": comp_row["largest"],
                "relation_event_totals": {
                    t: totals_row[t] for t in RELATION_TYPES
                },
                "edge_relation_presence": {
                    t: totals_row[f"{t}_presence"] for t in RELATION_TYPES
                },
                "kind_distribution": {r["kind"]: r["n"] for r in kind_rows},
                "top_nodes_by_weighted_degree": [
                    {
                        "id": r["node"],
                        "kind": r["kind"],
                        "weighted_degree": r["weighted_degree"],
                        "degree": r["degree"],
                    }
                    for r in top
                ],
            }
        finally:
            deg.unpersist()
    finally:
        if owns_edges:
            edges.unpersist()


def export_group_subgraphs(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    name: str = "relationship_graph_nation",
    groups: list[str] | None = None,
    max_groups: int = 200,
) -> dict:
    """Per-group graph bundle — one induced subgraph artifact per
    nation plus a bundle manifest, mirroring the reference's
    research-group graph bundle (people_relationship_graph_generator.py
    :229-311 `_export_research_group_graphs` +
    research_group_relationship_graphs_manifest.json): the group's
    MEMBER nodes (suppliers of the nation) are expanded with their
    one-hop trade neighbors (the advisorship-neighbor expansion
    analogue — trade is the directed fact-pair family), the subgraph is
    induced over members ∪ neighbors, and every node carries a
    ``role`` annotation (member | trade_neighbor).

    Scale posture: this loop is for OPERATOR-BOUNDED group sets (the
    reference has dozens of research groups; nations are 25) — each
    group's artifact is a filtered write over the shared persisted edge
    frame.  ``max_groups`` guards against misuse on a high-cardinality
    grouping column, where the right tool is one dataset
    ``partitionBy(group)``, not per-group artifacts."""
    from horizon_etl_spark.exports import export_graph
    from horizon_etl_spark.report import _atomic_write

    sup = table(spark, sf_dir, "supplier")
    nat = table(spark, sf_dir, "nation")
    member_nodes = sup.join(
        F.broadcast(nat), sup.s_nationkey == nat.n_nationkey
    ).select(
        F.col("n_name").alias("group"),
        F.concat(F.lit("S"), F.col("s_suppkey").cast("string")).alias("node"),
    )
    # group NAMES (+ member counts) come to the driver — O(groups), the
    # operator-bounded dimension; member/neighbor NODE SETS stay
    # DataFrames (isin literal lists over them would grow with the
    # dataset — the exact plan-blowup read_keys guards against)
    member_counts = {
        r["group"]: r["n"]
        for r in member_nodes.groupBy("group")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # the group universe is the GROUP dimension (every nation), not
    # the groups that happen to have members — a valid zero-supplier
    # nation must not read as a typo, and the default bundle must
    # account for it (as a skipped entry) rather than omit it silently
    all_groups = {r["n_name"] for r in nat.select("n_name").collect()}
    if groups is not None:
        unknown = sorted(set(groups) - all_groups)
        if unknown:
            raise ValueError(f"unknown group name(s): {unknown}")
        selected = list(dict.fromkeys(groups))
    else:
        selected = sorted(all_groups)
    counts = {g: member_counts.get(g, 0) for g in selected}
    if len(counts) > max_groups:
        raise ValueError(
            f"{len(counts)} groups exceeds max_groups={max_groups}; "
            "use a partitioned dataset for high-cardinality groupings"
        )

    edges = relationship_edges(spark, sf_dir).persist()
    try:
        manifest_graphs = []
        for group in sorted(counts):
            if counts[group] == 0:
                # no members → no artifact, but the bundle says so
                manifest_graphs.append(
                    {
                        "type": "group",
                        "group": group,
                        "member_count": 0,
                        "skipped": "no member nodes",
                    }
                )
                continue
            members = member_nodes.filter(F.col("group") == group).select("node")
            # one-hop trade-neighbor expansion (C->S fact pairs), as a
            # broadcast semi-join — never a collected literal list
            neighbors = (
                edges.filter(F.col("trade_count") > 0)
                .join(
                    F.broadcast(members),
                    edges.dst == members.node,
                    "left_semi",
                )
                .select(F.col("src").alias("node"))
                .distinct()
            )
            group_nodes = (
                members.withColumn("role", F.lit("member"))
                .unionByName(
                    neighbors.join(
                        F.broadcast(members), "node", "left_anti"
                    ).withColumn("role", F.lit("trade_neighbor"))
                )
                .persist()
            )
            ids = F.broadcast(group_nodes.select("node"))
            sub = (
                edges.join(ids, edges.src == ids.node, "left_semi")
                .join(ids, edges.dst == ids.node, "left_semi")
                .persist()
            )
            try:
                # LEFT join from the scope set: a member with no edges
                # in the induced subgraph still belongs to the artifact
                # (degree 0), so n_nodes reconciles exactly with the
                # manifest's expanded_node_count
                deg = relationship_degrees(spark, sf_dir, edges=sub)
                nodes = (
                    group_nodes.join(deg, "node", "left")
                    .withColumn(
                        "degree", F.coalesce("degree", F.lit(0).cast("long"))
                    )
                    .withColumn(
                        "weighted_degree",
                        F.coalesce("weighted_degree", F.lit(0).cast("long")),
                    )
                    .withColumn(
                        "kind",
                        F.coalesce(
                            "kind",
                            F.when(
                                F.col("node").startswith("S"), F.lit("supplier")
                            ).otherwise(F.lit("customer")),
                        ),
                    )
                )
                n_neighbors = group_nodes.filter(
                    F.col("role") == "trade_neighbor"
                ).count()
                scope = {
                    "type": "group",
                    "group": group,
                    "member_count": counts[group],
                    "expanded_node_count": counts[group] + n_neighbors,
                    "trade_neighbor_count": n_neighbors,
                }
                res = export_graph(
                    spark,
                    nodes,
                    sub.drop("n_types"),
                    out_dir,
                    f"{name}_{group.strip().lower().replace(' ', '_')}",
                    extra_manifest={"scope": scope},
                )
                manifest_graphs.append({**scope, "path": res["path"],
                                        "nodes": res["n_nodes"],
                                        "edges": res["n_edges"]})
            finally:
                sub.unpersist()
                group_nodes.unpersist()
        bundle = {"name": name, "graphs": manifest_graphs}
        # a bundle of only skipped groups still publishes its manifest
        os.makedirs(out_dir, exist_ok=True)
        _atomic_write(
            os.path.join(out_dir, f"{name}_manifest.json"),
            json.dumps(bundle, indent=2),
        )
        return bundle
    finally:
        edges.unpersist()
