"""Query operators over the materialized graph tables.

The reference exposes its graph through Neo4j Cypher (counts at
reference src/db/neo4j_handler.py:362-393; ad-hoc queries in the notebooks).
Here the graph IS two tables, so graph queries are joins/aggregations the
optimizer already knows how to run at scale: degrees are one partial+final
hash agg over triples, neighborhoods are broadcast semi-joins, 2-hop
expansion is a self-join on the canonical entity id (shuffle on subj/obj —
the same key the triples table is hash-bucketed by, so a real deployment
co-locates it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame


def register_views(spark: SparkSession, warehouse: str) -> None:
    """Expose the graph + ops tables to the SQL surface
    (``spark.sql("SELECT ... FROM triples JOIN vertices ...")``)."""
    import os

    from .materialize import read_graph_table
    from ..ops import OpsStore

    read_graph_table(
        spark, os.path.join(warehouse, "graph", "vertices")
    ).createOrReplaceTempView("vertices")
    read_graph_table(
        spark, os.path.join(warehouse, "graph", "triples")
    ).createOrReplaceTempView("triples")
    ops = OpsStore(spark, os.path.join(warehouse, "ops"))
    for t in ("checkpoints", "lineage", "metrics", "runs"):
        ops.read(t).createOrReplaceTempView(t)


def degree_table(triples: DataFrame) -> DataFrame:
    """Per-entity out/in/total degree (by canonical name). One hash agg per
    direction + a full-outer merge — no row explosion."""
    out_d = triples.groupBy(F.col("subj_name").alias("name")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = triples.groupBy(F.col("obj_name").alias("name")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "name", "full_outer")
        .select(
            "name",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0))).alias("degree"),
        )
    )


def neighbors(triples: DataFrame, entity_name: str) -> DataFrame:
    """1-hop neighborhood of a canonical entity (both directions), with the
    connecting predicate. Filter pushes to the scan; no shuffle."""
    fwd = triples.filter(F.col("subj_name") == entity_name).select(
        F.col("obj_name").alias("neighbor"), "pred",
        F.lit("out").alias("direction"),
    )
    bwd = triples.filter(F.col("obj_name") == entity_name).select(
        F.col("subj_name").alias("neighbor"), "pred",
        F.lit("in").alias("direction"),
    )
    return fwd.unionByName(bwd).distinct()


def edge_list(triples: DataFrame) -> DataFrame:
    """Distinct directed (src, dst) canonical-name edges, self-loops dropped
    — the input shape for the iterative analytics below. One hash agg on the
    bucketed key; at scale this is the already-partitioned triples table
    projected to two columns (column pruning reaches the scan)."""
    return (
        triples.select(
            F.col("subj_name").alias("src"), F.col("obj_name").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


PR_SCALE = 1_000_000_000  # rank fixed-point unit (1.0 == PR_SCALE)


def pagerank(edges: DataFrame, iters: int = 10, damping_pct: int = 85,
             checkpoint_every: int = 3) -> DataFrame:
    """Fixed-iteration PageRank via iterative DataFrame joins
    (GraphFrames-style: join-aggregate per superstep, lineage cut by
    localCheckpoint so the plan stays shallow at any iteration count).

    All arithmetic is BIGINT fixed-point (``PR_SCALE`` units, integer
    division) so the result is EXACTLY deterministic across partitionings,
    executor counts, and engines — BIGINT sums are order-independent,
    unlike float accumulation. This is what makes a cross-engine oracle
    (DuckDB re-running the same supersteps) hash-match bit-for-bit.

    Headroom bound: a vertex's incoming contribution sum s must keep
    ``damping_pct * s`` under int64 (s < ~1.08e17, i.e. ~1e8 vertices'
    TOTAL rank mass landing on one vertex). Graphs beyond that need
    PR_SCALE lowered a digit (trading one digit of rank precision) — left
    as a knob rather than auto-rescaled because the oracle must apply the
    identical arithmetic.

    Semantics: per-vertex rank starts at 1.0; each superstep a vertex
    receives ``teleport + damping * sum(rank[src] / out_deg[src])`` over its
    in-edges. Dangling-vertex mass is not redistributed (the common basic
    variant). Returns (name, rank_scaled BIGINT).

    Scale notes: each superstep is one shuffle on dst (partial aggregation
    map-side) plus a broadcast-or-shuffled join of the rank vector with the
    edge list on src — the edge list is re-used every step, so a real
    deployment caches it partitioned by src and the join is co-located.
    """
    teleport = (100 - damping_pct) * PR_SCALE // 100
    verts = (
        edges.select(F.col("src").alias("name"))
        .unionByName(edges.select(F.col("dst").alias("name")))
        .distinct()
    )
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    # edge + out-degree is loop-invariant: materialize once, reuse per step
    e = edges.join(out_deg, "src").localCheckpoint(eager=True)
    verts = verts.localCheckpoint(eager=True)
    ranks = verts.withColumn("rank", F.lit(PR_SCALE).cast("long"))
    for i in range(iters):
        contrib = (
            e.join(ranks, e.src == ranks.name)
            .select(F.col("dst").alias("name"), F.expr("rank div od").alias("c"))
            .groupBy("name")
            .agg(F.sum("c").alias("s"))
        )
        ranks = verts.join(contrib, "name", "left").select(
            "name",
            (
                F.lit(teleport)
                + F.expr(f"({damping_pct} * coalesce(s, 0L)) div 100")
            ).cast("long").alias("rank"),
        )
        if (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("name", F.col("rank").alias("rank_scaled"))


def bfs_distances(edges: DataFrame, source: str, max_depth: int = 6) -> DataFrame:
    """Single-source BFS shortest-path distances (hop counts), depth-capped.

    Classic frontier iteration: expand the frontier one hop, anti-join the
    visited set, stop when the frontier empties or the cap is hit. Each
    superstep is one join on src + one anti-join — both on the same key, so
    a src-partitioned edge cache runs it without re-shuffling the edges.
    The per-step driver check is a count of the (small) frontier, not the
    graph. Returns (name, dist) for every vertex reachable in <= max_depth
    hops; deterministic (hop counts are integers).
    """
    dist = local_frame(edges.sparkSession, [(source, 0)], "name string, dist int")
    # src-partitioned adjacency: every expansion joins on src, so only the
    # (small) frontier shuffles per step, never the edge list
    e = edges.repartition("src").localCheckpoint(eager=True)
    frontier = dist
    for d in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier.name == e.src)
            .select(F.col("dst").alias("name"), F.lit(d).alias("dist"))
            .distinct()
            .join(dist, "name", "left_anti")
            .localCheckpoint(eager=True)
        )
        if nxt.limit(1).count() == 0:
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return dist


def weakly_connected_components(edges: DataFrame, max_iters: int = 30) -> DataFrame:
    """Weakly-connected components, run by the canonicalization CC
    (:func:`components.connected_components`; reference disambiguates at
    insert time, neo4j_handler.py:70-134) over the distinct endpoints, so
    ``max_iters`` caps only its distributed rounds. Component id ==
    lexicographically smallest member name. Returns (name, component).
    """
    from .components import connected_components

    names = (
        edges.select(F.col("src").alias("name"))
        .union(edges.select(F.col("dst").alias("name")))
        .distinct()
    )
    pairs = edges.select(F.col("src").alias("key_a"), F.col("dst").alias("key_b"))
    return connected_components(
        names, pairs, id_col="name", max_iter=max_iters
    ).withColumnRenamed("comp", "component")


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle count over the undirected simple graph.

    Edges are canonicalized to (a < b) pairs, then triangles are enumerated
    by the standard two-join ordering (a<b<c) so each triangle is found
    exactly once; per-vertex counts credit all three corners. Joins are
    equi-joins on vertex name — at scale the ordered edge list is the
    shuffle unit and AQE's skew handling covers hub vertices. Deterministic
    (pure counting). Returns (name, n_triangles) for EVERY vertex.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    e1 = und.select(F.col("a"), F.col("b"))
    e2 = und.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = und.select(F.col("a"), F.col("b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
    corners = (
        tri.select(F.col("a").alias("name"))
        .unionByName(tri.select(F.col("b").alias("name")))
        .unionByName(tri.select(F.col("c").alias("name")))
    )
    per = corners.groupBy("name").agg(F.count(F.lit(1)).alias("n_triangles"))
    verts = (
        und.select(F.col("a").alias("name"))
        .unionByName(und.select(F.col("b").alias("name")))
        .distinct()
    )
    return verts.join(per, "name", "left").select(
        "name", F.coalesce("n_triangles", F.lit(0).cast("long")).alias("n_triangles")
    )


def two_hop(triples: DataFrame) -> DataFrame:
    """Distinct 2-hop (a)-[p1]->(b)-[p2]->(c) paths, a != c. Self-join on
    the canonical id — the bucketed key — so a co-located deployment runs
    it shuffle-free; AQE handles hub-entity skew on b."""
    e1 = triples.select(
        F.col("subj_name").alias("a"), F.col("pred").alias("p1"),
        F.col("obj_name").alias("b"),
    )
    e2 = triples.select(
        F.col("subj_name").alias("b"), F.col("pred").alias("p2"),
        F.col("obj_name").alias("c"),
    )
    return (
        e1.join(e2, "b")
        .filter(F.col("a") != F.col("c"))
        .select("a", "p1", "b", "p2", "c")
        .distinct()
    )


def comention_edges(triples: DataFrame, min_weight: int = 1) -> DataFrame:
    """Undirected co-mention edges: two canonical entities are linked when
    they appear in the SAME document's triples; weight = # of shared docs.
    The standard entity-association graph a KG analytics layer derives
    (distinct from the typed predicate edges).

    Shape: per-doc entity sets (one hash agg), then a per-doc self-join —
    the blow-up is bounded by (entities per doc)^2, never by corpus size,
    and the join key is doc_id (the natural partition key), so hub
    ENTITIES cause no skew here; only a pathological single doc mentioning
    everything would, and that is a data bug upstream's quality filter
    catches. Output keyed (src < dst) so each pair appears once."""
    ent = (
        triples.select("doc_id", F.col("subj_name").alias("name"))
        .unionByName(triples.select("doc_id", F.col("obj_name").alias("name")))
        .distinct()
    )
    pairs = (
        ent.alias("a")
        .join(ent.alias("b"), "doc_id")
        .filter(F.col("a.name") < F.col("b.name"))
        .groupBy(F.col("a.name").alias("src"), F.col("b.name").alias("dst"))
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    return pairs.filter(F.col("weight") >= min_weight) if min_weight > 1 else pairs
