"""Entity linking: exact fast path + token-blocked fuzzy similarity join.

Replaces the reference's O(N·M) disambiguation (every unmatched entity pulls
ALL entities of its type over bolt and scans them in Python —
reference src/db/neo4j_handler.py:100-134) with a blocked similarity join:

1. dedupe mentions to DISTINCT (type, name) keys first — this is the skew
   kill-shot: a hub bank mentioned in 30% of documents collapses to a handful
   of distinct surface forms before any join happens;
2. explode normalized-name tokens as blocking keys and self-join on
   (type, token) — candidate pairs only ever form inside a block;
3. score candidates with the reference's exact predicate: containment either
   way with the contained side > 3 chars (reference :123-124) AND word-set
   Jaccard > 0.5 (reference :131,136-159) — all built-in array functions,
   no Python;
4. oversized blocks (degenerate tokens like 'bank') are capped: tokens whose
   block exceeds ``max_block`` names are dropped from blocking — any pair
   that satisfies Jaccard > 0.5 on ≤3-token names shares a rarer token too,
   and longer names lose at most marginal recall. The purge is a recall
   knob, never a correctness one (the verify predicate is exact on every
   emitted pair); profile hot blocking tokens up front with
   ``skew.key_profile`` when tuning ``max_block``.

Steps 2 and 4 are the engine's one blocking stage,
``similarity.blocked_pairs`` (SparkER's block purging, EDBT 2019, then the
pair self-join), shared with every dedup pair emitter.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .normalize import norm_tokens_expr, normalize_name_expr
from .similarity import blocked_pairs, cosine_with_norms_expr, jaccard_expr, norm_expr, pair_sides


def name_keys(mentions: DataFrame) -> DataFrame:
    """Distinct (type, name) surface keys with normalized form and tokens.

    ``key`` is the linking node id: '<type>|<name>'.
    """
    return (
        mentions.groupBy("type", "name")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .withColumn("norm", normalize_name_expr("name"))
        .withColumn("tokens", norm_tokens_expr("name"))
        .withColumn("key", F.concat_ws("|", "type", "name"))
    )


def similarity_edges(keys: DataFrame, max_block: int = 1000,
                     anchor: str | None = None) -> DataFrame:
    """Candidate pairs (key_a, key_b) that the reference would merge.

    Exact-name duplicates never reach this join (name_keys is distinct), so
    edges here are exactly the fuzzy-match graph. Output is one direction
    (key_a < key_b); connected components symmetrizes.

    ``anchor``: name of a boolean column on ``keys``; when set, only pairs
    with at least one anchored side are emitted. The incremental
    canonicalization path uses this to verify new↔old and new↔new pairs
    without re-verifying old↔old pairs whose connectivity is already known.
    The anchor filter runs BEFORE the string predicates, so purged pairs
    never pay the containment/Jaccard work.
    """
    anchored = [F.col(anchor).alias("anchor")] if anchor else []
    toks = keys.select(
        "key", "type", "norm", "tokens", *anchored,
        F.explode("tokens").alias("tok"),
    )
    # one row per shared token; degenerate blocks capped (module docstring, step 4)
    pairs = blocked_pairs(toks, "key", ["type", "tok"], max_block,
                          carry=("norm", "tokens") + (("anchor",) if anchor else ()))
    # containment gate (reference src/db/neo4j_handler.py:123-124)
    contained = (
        (F.instr(F.col("norm_b"), F.col("norm_a")) > 0) & (F.length("norm_a") > 3)
    ) | ((F.instr(F.col("norm_a"), F.col("norm_b")) > 0) & (F.length("norm_b") > 3))
    # Jaccard > 0.5 on word sets (reference :131,136-159)
    jaccard = jaccard_expr("tokens_a", "tokens_b")
    # score-then-dedupe: the match predicate is deterministic per (key_a,
    # key_b), so multi-token duplicate pairs agree — filtering FIRST shrinks
    # the dedupe shuffle from every candidate pair (with token arrays) to
    # just surviving edges (~50x less shuffle volume at sf0.1-equivalent)
    if anchor:
        pairs = pairs.filter(F.col("anchor_a") | F.col("anchor_b"))
    return (
        pairs
        .filter(contained & (jaccard > 0.5))
        .select("key_a", "key_b", jaccard.alias("jaccard"))
        .dropDuplicates(["key_a", "key_b"])
    )


# ---------------------------------------------------------------------------
# Embedding-similarity linking (north-star axis: alias-dictionary +
# embedding-similarity entity linking). Deterministic hashed character-n-gram
# vectors — no external models, identical on every run/cluster — with cosine
# scored entirely by Catalyst array expressions. Catches surface variants the
# token-set predicate cannot (typos, run-together words: 'GlobalTech' vs
# 'GlobalTec'), at the cost of a looser notion of similarity, so it is an
# ADDITIVE edge source gated behind its own (higher) threshold.
# ---------------------------------------------------------------------------

def char_ngram_buckets_expr(col: Column | str, n: int = 3, dim: int = 256) -> Column:
    """Hashed char-n-gram bucket ids (array<int>) of a normalized name, with
    boundary markers. xxhash64 buckets are stable across sessions and
    partitions, so derived vectors are reproducible anywhere. dim default
    matches embedding_similarity_edges (256): 64 buckets measurably inflate
    unrelated-name cosines via hash collisions — see that docstring."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit("^"), c, F.lit("$"))
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1))),
        lambda i: F.pmod(F.xxhash64(padded.substr(i, F.lit(n))), F.lit(dim)),
    )


def raw_char_ngrams_expr(col: Column | str, n: int = 3) -> Column:
    """Distinct raw character n-grams (with ^/$ boundary markers) — the
    BLOCKING key. Raw grams, not hashed-mod-dim buckets: with only ``dim``
    buckets per type, any type with more than ~dim*max_block names saturates
    every block and the cap purges them ALL — a silent recall collapse at
    exactly the scale the feature targets (ADVICE r1). The raw-gram key
    space grows with the data, so block sizes stay bounded by true gram
    frequency; ``dim`` now sizes only the cosine vectors."""
    c = F.col(col) if isinstance(col, str) else col
    padded = F.concat(F.lit("^"), c, F.lit("$"))
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(padded) - (n - 1), F.lit(1))),
            lambda i: padded.substr(i, F.lit(n)),
        )
    )


def embedding_similarity_edges(keys: DataFrame, threshold: float = 0.75,
                               n: int = 3, dim: int = 256,
                               max_block: int = 1000,
                               anchor: str | None = None) -> DataFrame:
    """Candidate pairs (key_a < key_b, cosine) with char-n-gram cosine ≥
    threshold. Blocking: shared RAW character n-gram within the same type
    (a pair with high cosine necessarily shares grams), block-capped like
    every other pair join in this engine; dim only shapes the hashed
    cosine vectors. ``anchor`` as in :func:`similarity_edges`.

    dim=256: at dim=64, hash collisions on ~10-gram company names inflate
    unrelated-name cosines by up to +0.16 (measured: "Halcyon Tech" vs
    "Orion Tech" 0.761 at dim=64 vs 0.603 true) — enough to cross linking
    thresholds and overmerge distinct companies. 256 buckets makes the
    hashed cosine track the exact n-gram cosine to <0.01 on this name
    length; vectors are per DISTINCT surface, so the memory cost is
    negligible at any scale."""
    anchor_cols = [anchor] if anchor else []
    v = keys.select(
        "key", "type", *anchor_cols,
        char_ngram_buckets_expr(F.col("norm"), n, dim).alias("bks"),
        raw_char_ngrams_expr(F.col("norm"), n).alias("grams"),
    ).withColumn(
        "vec",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda b: F.size(F.filter(F.col("bks"), lambda x: x == b)).cast("double"),
        ),
    ).withColumn("nrm", norm_expr(F.col("vec")))
    # blocking is ID-ONLY: a ~2KB vector riding every gram row would cross
    # the shuffle once per gram; dedupe (key_a, key_b) first, then join the
    # vectors back (pair_sides) and score each candidate pair exactly once.
    ex = v.select("key", "type", *[F.col(c).alias("anchor") for c in anchor_cols],
                  F.explode("grams").alias("bk"))
    pairs = blocked_pairs(ex, "key", ["type", "bk"], max_block,
                          carry=("anchor",) if anchor else ())
    if anchor:
        pairs = pairs.filter(F.col("anchor_a") | F.col("anchor_b"))
    cos = cosine_with_norms_expr(F.col("vec_a"), F.col("vec_b"),
                                 F.col("nrm_a"), F.col("nrm_b"))
    return (
        pair_sides(pairs.select("key_a", "key_b").distinct(), v, "key", ["vec", "nrm"])
        .withColumn("cosine", cos)
        .filter(F.col("cosine") >= threshold)
        .select("key_a", "key_b", "cosine")
    )
