"""The engine's one connected-components implementation (canonicalization,
dedup clusters, graph WCC) over an edge DataFrame.

Batch, order-free replacement for the reference's incremental greedy merge
(each insert folds into the first matching DB entity —
reference src/db/neo4j_handler.py:161-186): the canonical cluster is the
connected component of the fuzzy-match graph, canonical label = min(key).
This is a deterministic superset of the reference's order-dependent result
(parity is asserted on post-canonicalization triples, see SURVEY.md §7.4).

Algorithm: hash-to-min label propagation — each node adopts the minimum
label in its closed neighborhood each round; converges in O(diameter)
rounds. Alias clusters have diameter ≤ ~3 (surface variants of one company),
so 2-4 rounds suffice; ``max_iter`` bounds pathological chains and
convergence is verified by counting changed labels (a cheap AQE-coalesced
aggregate).

Scale notes:
- Nodes are DISTINCT name keys, not mentions — hub skew (one bank in 30% of
  docs) never reaches these joins (see linking.py).
- Per-round ``localCheckpoint`` truncates the lineage chain so the plan does
  not grow with iterations (the classic iterative-join trap).
- Each round is one shuffle (join on ``src``) + one hash agg; AQE handles
  residual key skew inside a round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "key",
    max_iter: int = 15,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """→ DataFrame(id_col, comp) where comp = min key of the component.

    ``nodes``: one row per node (column ``id_col``).
    ``edges``: undirected pairs (key_a, key_b); singletons need not appear.

    Scale-adaptive execution (AQE-spirit runtime decision): the edge list is
    materialized once anyway (it is re-joined every round), so its size is
    known for free. Below ``driver_threshold`` edges the component labeling
    runs as a driver-side union-find (one job total instead of
    O(diameter) join+agg rounds) — the alias-similarity graph stays small
    even at web scale because its nodes are DISTINCT surface forms, not
    mentions. 2M edges ≈ 200MB via Arrow + a sub-second union-find: well
    inside driver budget, and far cheaper than paying O(diameter) shuffle
    barriers. Above the threshold, the distributed hash-to-min loop runs.
    """
    # materialize the edge list ONCE — the upstream blocking-join chain is the
    # expensive part and every consumer below re-reads it (persist, not
    # localCheckpoint: the RDD conversion bypasses upstream DataFrame caches)
    e = edges.select("key_a", "key_b").persist()
    # path choice + small-graph fetch in a single job: take threshold+1 rows;
    # a short result IS the full edge list, so union-find runs on it directly.
    # toPandas (Arrow columnar transfer), not collect: Row-object pickling of
    # ~10^5 edges is seconds of pure driver time, Arrow is milliseconds.
    head = e.limit(driver_threshold + 1).toPandas()
    if len(head) <= driver_threshold:
        out = _driver_union_find(nodes, head, id_col)
        e.unpersist()
        return out
    # distributed hash-to-min. Symmetrize by a cheap cache-fed union — no
    # distinct: duplicate messages cannot change a min() aggregate.
    sym = e.select(F.col("key_a").alias("src"), F.col("key_b").alias("dst")).union(
        e.select(F.col("key_b").alias("src"), F.col("key_a").alias("dst"))
    )
    comp = nodes.select(F.col(id_col).alias("id")).withColumn("comp", F.col("id"))
    comp = comp.localCheckpoint(eager=True)

    for _ in range(max_iter):
        # neighbor labels: node 'dst' learns label of 'src'
        msgs = sym.join(
            comp.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "comp")
        new_comp = (
            comp.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
        )
        new_comp = new_comp.localCheckpoint(eager=True)
        changed = (
            new_comp.alias("n")
            .join(comp.alias("o"), "id")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        comp = new_comp
        if changed == 0:
            break
    else:
        # a silent return here would hand back a partially-propagated
        # labeling — one real component split into several, i.e. one
        # company getting multiple entity_ids with no error downstream.
        e.unpersist()
        raise RuntimeError(
            f"connected_components: no fixpoint after {max_iter} rounds "
            f"(component diameter exceeds max_iter — raise max_iter)")
    e.unpersist()
    return comp.select(F.col("id").alias(id_col), "comp")


def union_find(pairs) -> dict:
    """The engine's one union-find (path compression, min label wins):
    ``pairs`` is any iterable of (a, b) → {node: min member of its
    component} for every node named in a pair. Pairs are undirected;
    duplicates and self-pairs are harmless."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # min label wins so comp == min(key) of the component
            parent[max(ra, rb)] = min(ra, rb)
    return {k: find(k) for k in parent}


def _driver_union_find(nodes: DataFrame, edge_pdf, id_col: str) -> DataFrame:
    """Small-graph fast path: ``union_find`` over a pandas frame of
    (key_a, key_b) pairs, label map shipped back to the node set."""
    labels = union_find(
        zip(edge_pdf["key_a"].to_numpy(), edge_pdf["key_b"].to_numpy())
    )
    if not labels:
        return nodes.select(F.col(id_col), F.col(id_col).alias("comp"))
    # Ship the label map as a broadcast VARIABLE consumed by a vectorized
    # UDF, not a DataFrame broadcast join: at O(10^5) labels the
    # createDataFrame + broadcast-exchange + join adds three driver-gated
    # jobs, while the UDF fuses label lookup into whatever stage consumes
    # the result (zero extra jobs, zero shuffles).
    bc = nodes.sparkSession.sparkContext.broadcast(labels)

    def _label(s):
        mapped = s.map(bc.value)
        return mapped.where(mapped.notna(), s)

    label_of = F.pandas_udf(_label, "string")
    return nodes.select(F.col(id_col), label_of(F.col(id_col)).alias("comp"))
