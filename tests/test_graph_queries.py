"""Graph-query operators + the SQL view surface over the materialized
graph tables."""

import os

from pyspark.sql import functions as F

from financial_knowledge_graphs_spark import fixtures
from financial_knowledge_graphs_spark.operators import graph, materialize
from financial_knowledge_graphs_spark.pipeline import (
    PipelineConfig, graph_paths, run_pipeline,
)


def _build(spark, tmp_warehouse, small_corpus):
    docs = fixtures.documents_df(small_corpus)
    alias = fixtures.alias_dict_df(spark, 20, 42)
    run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
    return materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["triples"])


def test_degree_matches_gt(spark, tmp_warehouse, small_corpus):
    t = _build(spark, tmp_warehouse, small_corpus)
    deg = graph.degree_table(t)
    gt = fixtures.gt_triples_df(small_corpus)
    want_out = {r["subj"]: r["n"] for r in gt.groupBy("subj").agg(F.count("*").alias("n")).collect()}
    got_out = {r["name"]: r["out_degree"] for r in deg.collect() if r["out_degree"]}
    assert got_out == want_out
    # total degree consistency
    assert deg.agg(F.sum("degree")).first()[0] == 2 * t.count()


def test_neighbors_and_two_hop(spark, tmp_warehouse, small_corpus):
    t = _build(spark, tmp_warehouse, small_corpus)
    some = t.select("subj_name").first()["subj_name"]
    nb = graph.neighbors(t, some)
    assert nb.count() > 0
    assert set(nb.columns) == {"neighbor", "pred", "direction"}
    th = graph.two_hop(t)
    # every 2-hop row chains two real edges
    edges = {(r["subj_name"], r["pred"], r["obj_name"]) for r in t.collect()}
    for r in th.limit(20).collect():
        assert (r["a"], r["p1"], r["b"]) in edges
        assert (r["b"], r["p2"], r["c"]) in edges
        assert r["a"] != r["c"]


def test_sql_view_surface(spark, tmp_warehouse, small_corpus):
    """spark.sql over registered views == the DataFrame result."""
    _build(spark, tmp_warehouse, small_corpus)
    graph.register_views(spark, tmp_warehouse)
    via_sql = spark.sql("""
        SELECT v.companyName, count(*) AS n_triples
        FROM triples t JOIN vertices v ON t.subj = v.entity_id
        GROUP BY v.companyName
    """)
    tdf = materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["triples"])
    vdf = materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["vertices"])
    via_df = tdf.join(vdf, tdf.subj == vdf.entity_id).groupBy("companyName").agg(
        F.count(F.lit(1)).alias("n_triples")
    )
    assert via_sql.exceptAll(via_df).count() == 0
    assert via_df.exceptAll(via_sql).count() == 0
    assert spark.sql("SELECT count(*) FROM metrics").first()[0] > 0


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def test_pagerank_hand_checkable(spark):
    # a -> b, a -> c, b -> c: c must outrank b, b must outrank a (a gets
    # teleport only); total determinism: two runs bit-identical.
    e = graph.edge_list(
        _edges(spark, [("a", "b"), ("a", "c"), ("b", "c")]).selectExpr(
            "src as subj_name", "dst as obj_name"
        ).withColumn("pred", F.lit("x"))
        .selectExpr("subj_name", "pred", "obj_name")
    )
    r = {x["name"]: x["rank_scaled"] for x in graph.pagerank(e, iters=10).collect()}
    assert set(r) == {"a", "b", "c"}
    assert r["c"] > r["b"] > r["a"]
    assert r["a"] == 15 * graph.PR_SCALE // 100  # teleport only, exactly
    r2 = {x["name"]: x["rank_scaled"] for x in graph.pagerank(e, iters=10).collect()}
    assert r == r2


def test_pagerank_cycle_conserves_mass(spark):
    # pure 3-cycle: symmetric, every vertex keeps rank exactly 1.0
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    r = {x["name"]: x["rank_scaled"] for x in graph.pagerank(e, iters=7).collect()}
    assert set(r.values()) == {graph.PR_SCALE}


def test_bfs_distances(spark):
    # chain a->b->c->d plus shortcut a->c: dist(c)=1 not 2; e unreachable
    e = _edges(spark, [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"), ("e", "a")])
    d = {x["name"]: x["dist"] for x in graph.bfs_distances(e, "a").collect()}
    assert d == {"a": 0, "b": 1, "c": 1, "d": 2}
    # depth cap honored
    d2 = {x["name"]: x["dist"] for x in graph.bfs_distances(e, "a", max_depth=1).collect()}
    assert d2 == {"a": 0, "b": 1, "c": 1}


def test_triangle_counts(spark):
    # triangle a-b-c (via directed edges incl. a reverse duplicate) plus
    # pendant d: counts 1,1,1,0; duplicate/reversed edges collapse
    e = _edges(
        spark,
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a"), ("c", "d")],
    )
    t = {x["name"]: x["n_triangles"] for x in graph.triangle_counts(e).collect()}
    assert t == {"a": 1, "b": 1, "c": 1, "d": 0}


def test_wcc_two_components(spark):
    # {a,b,c} connected (one directed edge each way mixes), {x,y} separate
    e = _edges(spark, [("b", "a"), ("c", "b"), ("y", "x")])
    c = {r["name"]: r["component"] for r in
         graph.weakly_connected_components(e).collect()}
    assert c == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_wcc_chain_beyond_one_step(spark):
    # a path graph forces multi-superstep propagation (diameter 5)
    e = _edges(spark, [(chr(98 + i), chr(97 + i)) for i in range(5)])
    c = {r["name"]: r["component"] for r in
         graph.weakly_connected_components(e).collect()}
    assert set(c.values()) == {"a"}


def test_wcc_raises_when_cap_too_small(spark):
    """Review r3: exhausting the round cap before fixpoint must raise, not
    silently return a partially-propagated labeling (two fragments of one
    long chain under different ids). WCC runs through
    connected_components, so the cap is checked on its distributed path."""
    import pytest

    from financial_knowledge_graphs_spark.operators.components import (
        connected_components,
    )

    pairs = [(f"n{i + 1:02d}", f"n{i:02d}") for i in range(12)]
    nodes = spark.createDataFrame([(f"n{i:02d}",) for i in range(13)], "key string")
    edges = spark.createDataFrame(pairs, "key_a string, key_b string")
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(nodes, edges, driver_threshold=0, max_iter=5)
    e = _edges(spark, pairs)
    c = {r["name"]: r["component"] for r in
         graph.weakly_connected_components(e, max_iters=30).collect()}
    assert set(c.values()) == {"n00"}


def test_comention_edges_hand_checked(spark):
    rows = [
        ("d1", "A", "owns", "B"),
        ("d1", "B", "ceo_of", "C"),   # d1 entities: A,B,C
        ("d2", "A", "owns", "B"),     # d2 entities: A,B
        ("d2", "A", "acquired", "B"), # duplicate pair within doc: counted once
        ("d3", "C", "owns", "C"),     # self-loop: no pair
    ]
    t = spark.createDataFrame(
        rows, "doc_id string, subj_name string, pred string, obj_name string")
    got = {(r["src"], r["dst"]): r["weight"]
           for r in graph.comention_edges(t).collect()}
    assert got == {("A", "B"): 2, ("A", "C"): 1, ("B", "C"): 1}
    # min_weight filter
    got2 = {(r["src"], r["dst"]): r["weight"]
            for r in graph.comention_edges(t, min_weight=2).collect()}
    assert got2 == {("A", "B"): 2}
