"""Similarity building blocks and search over embedding columns.

The engine's one blocking stage (SparkER, EDBT 2019: blocking → block
purging → comparison); every candidate-pair emitter in ``linking`` and
``dedup`` runs through it. ``purge_blocks`` drops blocks over ``max_block``
rows (a recall/cost knob — the verify after it is exact), ``blocked_pairs``
self-joins id-only within the kept blocks, and ``pair_sides`` joins the
verify columns back for ``jaccard_expr`` or ``norm_expr`` +
``cosine_with_norms_expr``. ``lsh_tables`` + ``lsh_bucket_expr`` give the
sign-LSH blocking keys.

Search: ``brute_force_topk`` (exact; the baseline and the verifier),
``lsh_topk`` (sign-LSH buckets: candidate generation is an equi-join on
bucket keys, not a cross product) and ``ivf_topk`` (coarse-quantizer
cells), each re-ranked by exact cosine. Vectors are cast to double arrays;
cosine is built-in higher-order functions (JVM-side), no Python in the
scoring loop.
"""

from __future__ import annotations

import hashlib
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def check_int(name: str, value, minimum: int = 1, maximum: int | None = None) -> None:
    """The engine's one int-knob check: ``value`` must be an int (not a bool)
    in ``[minimum, maximum]``. Checked where a knob is passed in, before any
    plan is built or anything is cached: out of range, a knob either fails
    inside a Spark job or returns a silently wrong result (a block cap below
    1 purges every block; an n-gram length of 0 makes every gram "")."""
    if (isinstance(value, bool) or not isinstance(value, int) or value < minimum
            or (maximum is not None and value > maximum)):
        bound = f">= {minimum}" if maximum is None else f"in [{minimum}, {maximum}]"
        raise ValueError(f"{name} must be an int {bound}, got {value!r}")


def purge_blocks(rows: DataFrame, block_cols: Sequence[str],
                 max_block: int) -> DataFrame:
    """Drop every row whose block (``block_cols``) holds more than
    ``max_block`` rows: degenerate blocks (a stop token, a zero vector's
    bucket) would otherwise square into most of the pair join. The block
    sizes are one count aggregate, broadcast into a left-anti join."""
    check_int("max_block", max_block)
    block_cols = list(block_cols)
    big = (rows.groupBy(*block_cols).agg(F.count(F.lit(1)).alias("bs"))
           .filter(F.col("bs") > max_block))
    return rows.join(F.broadcast(big), block_cols, "left_anti")


def blocked_pairs(rows: DataFrame, id_col: str, block_cols: Sequence[str],
                  max_block: int, carry: Sequence[str] = ()) -> DataFrame:
    """Candidate pairs inside purged blocks: ``block_cols``, ``{id_col}_a`` <
    ``{id_col}_b`` and every ``carry`` column as ``{c}_a``/``{c}_b``. One row
    per SHARED block — callers dedupe (or count) the pairs themselves."""
    block_cols = list(block_cols)
    kept = purge_blocks(rows, block_cols, max_block)

    def side(s: str) -> DataFrame:
        return kept.select(*block_cols,
                           *[F.col(c).alias(f"{c}_{s}") for c in (id_col, *carry)])

    return (side("a").join(side("b"), block_cols)
            .filter(F.col(f"{id_col}_a") < F.col(f"{id_col}_b")))


def pair_sides(pairs: DataFrame, rows: DataFrame, id_col: str,
               cols: Sequence[str]) -> DataFrame:
    """Join ``cols`` of ``rows`` back onto both ends of id-only ``pairs``
    (``{id_col}_a``/``{id_col}_b``) as ``{c}_a``/``{c}_b`` — the verify
    join: each wide value crosses the shuffle once per side instead of
    riding every candidate row."""
    for s in ("a", "b"):
        pairs = pairs.join(
            rows.select(*[F.col(c).alias(f"{c}_{s}") for c in (id_col, *cols)]),
            f"{id_col}_{s}",
        )
    return pairs


def jaccard_expr(a: Column | str, b: Column | str) -> Column:
    """Set Jaccard |a ∩ b| / |a ∪ b| of two array columns (0.0 when both
    are empty)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def norm_expr(a: Column) -> Column:
    """L2 norm, precomputed ONCE per vector instead of once per candidate
    pair (see cosine_with_norms_expr)."""
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                    lambda s, v: s + v)
    )


def cosine_with_norms_expr(a: Column, b: Column,
                           na: Column, nb: Column) -> Column:
    """Cosine from precomputed norms: per-pair work is ONE dot product.
    Catalyst higher-order functions are interpreted per element, so at
    10^5+ candidate pairs the two 64-element norm aggregates dominated
    the verify stage — precomputing them per VECTOR (|V| rows, not |pairs|)
    cut the verify ~3x with bit-identical results (same IEEE expression,
    same operand order)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, v: acc + v)
    return F.when((na > 0) & (nb > 0), dot / (na * nb)).otherwise(F.lit(0.0))


def _vectors(df: DataFrame, id_col: str, vec_col: str, id_as: str,
             v: str = "v", n: str = "n") -> DataFrame:
    """(id_as, v, n): the vector as array<double> plus its norm."""
    return df.select(
        F.col(id_col).alias(id_as), F.col(vec_col).cast("array<double>").alias(v)
    ).withColumn(n, norm_expr(F.col(v)))


def _topk(cands: DataFrame, k: int) -> DataFrame:
    """Score (query_id, item_id) candidates carrying v_q/v_i/n_q/n_i and
    keep each query's k best by cosine (ties → smaller item_id)."""
    scored = cands.select(
        "query_id", "item_id",
        F.round(cosine_with_norms_expr(F.col("v_q"), F.col("v_i"),
                                       F.col("n_q"), F.col("n_i")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("item_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "cosine", "rank")
    )


def brute_force_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors per query (excluding self): broadcast-join the
    query set, score all pairs, keep rank ≤ k. One shuffle (the window).
    Norms precomputed once per vector (bit-identical, see
    cosine_with_norms_expr) — per-pair work is one dot product."""
    corpus = _vectors(embeddings, id_col, vec_col, "item_id", "v_i", "n_i")
    q = _vectors(queries, id_col, vec_col, "query_id", "v_q", "n_q")
    return _topk(corpus.join(F.broadcast(q), F.col("item_id") != F.col("query_id")), k)


def _plane(seed: str, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — reproducible
    everywhere, no RNG state to ship."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
        for j in range(0, 32, 8):
            if len(vals) >= dim:
                break
            vals.append(int(h[j:j + 8], 16) / float(0xFFFFFFFF) - 0.5)
        i += 1
    return vals


def lsh_tables(dim: int, n_planes: int, n_tables: int) -> list[list[list[float]]]:
    """``n_tables`` sign-LSH tables of ``n_planes`` md5-derived hyperplanes
    each; every engine (and the DuckDB oracle) derives the same planes."""
    return [
        [_plane(f"t{t}p{p}", dim) for p in range(n_planes)] for t in range(n_tables)
    ]


def lsh_bucket_expr(vec_col, planes: list[list[float]]):
    """Sign bucket: one bit per hyperplane (dot ≥ 0)."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec_col, F.array(*[F.lit(x) for x in p]), lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            >= 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in planes
    ]
    return F.concat(*bits)


def lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             dim: int = 64, n_planes: int = 6, n_tables: int = 4,
             max_block: int = 2000) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent sign-LSH tables of
    ``n_planes`` bits; candidates = items sharing a bucket with the query in
    ANY table; exact cosine re-rank of candidates only.

    Two scale guards (same discipline as the dedup family): item buckets
    larger than ``max_block`` are purged — a degenerate corpus (many
    near-identical or zero vectors) would otherwise regress to the full
    items×queries cross product this path exists to avoid (recall for
    vectors in purged buckets degrades to their OTHER tables' buckets);
    and candidate (query_id, item_id) pairs are deduped ID-ONLY before the
    vectors are joined back, so each dim-sized array crosses the shuffle
    once per side instead of riding every candidate row."""
    tables = lsh_tables(dim, n_planes, n_tables)

    def bucket_keys(df: DataFrame) -> DataFrame:
        v = F.col(vec_col).cast("array<double>")
        bucket_structs = F.array(
            *[
                F.struct(F.lit(t).alias("table"), lsh_bucket_expr(v, tables[t]).alias("bucket"))
                for t in range(n_tables)
            ]
        )
        return df.select(id_col, F.explode(bucket_structs).alias("bk")).select(
            id_col, "bk.table", "bk.bucket")

    def keyed(df: DataFrame, id_as: str) -> DataFrame:
        return df.select("table", "bucket", F.col(id_col).alias(id_as))

    item_keys = purge_blocks(bucket_keys(embeddings), ["table", "bucket"], max_block)
    cand_ids = (
        keyed(item_keys, "item_id").join(
            F.broadcast(keyed(bucket_keys(queries), "query_id")), ["table", "bucket"]
        )
        .filter(F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id")
        .distinct()
    )
    item_vecs = _vectors(embeddings, id_col, vec_col, "item_id", "v_i", "n_i")
    query_vecs = _vectors(queries, id_col, vec_col, "query_id", "v_q", "n_q")
    return _topk(cand_ids.join(item_vecs, "item_id")
                 .join(F.broadcast(query_vecs), "query_id"), k)


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
             id_col: str = "vec_id", vec_col: str = "embedding",
             n_cells: int = 16, nprobe: int = 2) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    alternative to sign-LSH (``lsh_topk``).

    Coarse centroids are the ``n_cells`` corpus vectors with the smallest
    md5(ivf:id) — a deterministic random sample, i.e. IVF with a
    random-subset quantizer (the honest baseline; Lloyd refinement changes
    the centroids, not the plan shape). Every item is assigned to its
    nearest centroid (one broadcast join + per-item argmin — no shuffle);
    a query probes its ``nprobe`` nearest cells; exact cosine re-ranks only
    the items in probed cells. At 100 TB the cell id becomes the table's
    partition key so a probe prunes partitions instead of filtering rows.
    """
    e = _vectors(embeddings, id_col, vec_col, "item_id")
    cents = (
        e.withColumn("r", F.md5(F.concat(F.lit("ivf:"), F.col("item_id").cast("string"))))
        .orderBy("r", "item_id")
        .limit(n_cells)
        .select(F.col("item_id").alias("cell_id"), F.col("v").alias("cv"),
                F.col("n").alias("ncv"))
    )
    bc = F.broadcast(cents)

    def cells_of(df: DataFrame, idc: str, n_keep: int) -> DataFrame:
        scored = df.join(bc, how="cross").select(
            idc, "v", "n", "cell_id",
            cosine_with_norms_expr(F.col("v"), F.col("cv"),
                                   F.col("n"), F.col("ncv")).alias("cd"),
        )
        w = Window.partitionBy(idc).orderBy(F.desc("cd"), F.asc("cell_id"))
        return (
            scored.withColumn("cr", F.row_number().over(w))
            .filter(F.col("cr") <= n_keep)
            .select(idc, "v", "n", "cell_id")
        )

    items = cells_of(e, "item_id", 1)
    q = _vectors(queries, id_col, vec_col, "query_id")
    probes = (cells_of(q, "query_id", nprobe)
              .withColumnRenamed("v", "v_q").withColumnRenamed("n", "n_q"))
    cands = (
        items.join(F.broadcast(probes), "cell_id")
        .filter(F.col("item_id") != F.col("query_id"))
        .select("query_id", "item_id", "v_q", "n_q",
                F.col("v").alias("v_i"), F.col("n").alias("n_i"))
        .dropDuplicates(["query_id", "item_id"])
    )
    return _topk(cands, k)


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int = 5) -> float:
    """Fraction of exact top-k pairs recovered by the approximate search."""
    e = exact.filter(F.col("rank") <= k).select("query_id", "item_id")
    a = approx.filter(F.col("rank") <= k).select("query_id", "item_id")
    hit = e.join(a, ["query_id", "item_id"]).count()
    total = e.count()
    return hit / total if total else 1.0
