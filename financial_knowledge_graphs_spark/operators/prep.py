"""Ingest & preparation stage — all Catalyst built-ins, zero Python UDFs.

Covers SURVEY.md §2.2-2.3: story reconstruction from interleaved spans,
quality filter, content dedup, seeded sampling, resume anti-join, batch limit.

Reference semantics reproduced:
- quality filter: headline/story non-null, is_english, token_count >= 250
  (reference src/utils/data_processing.py:56-61, default min_tokens :18)
- token_count: whitespace-split word count (reference src/utils/data_processing.py:52)
- dedup by story, keep-first deterministic (reference src/utils/data_processing.py:64)
- seeded sample of exactly n rows (reference src/utils/data_processing.py:115-120)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import word_tokens

DEFAULT_MIN_TOKENS = 250  # reference src/utils/data_processing.py:18


def story_expr(spans_col: str = "spans") -> F.Column:
    """Derive article text from interleaved spans: sort by offset, keep
    kind='text', concat with a single space.

    Pure array expressions — evaluated row-local inside whole-stage codegen,
    no shuffle, no UDF. The span column itself is never modified, preserving
    the per-row span-sequence invariant (kind, text, media_ref, order).
    """
    ordered = F.array_sort(F.col(spans_col), lambda a, b: a["offset"] - b["offset"])
    texts = F.filter(ordered, lambda s: s["kind"] == F.lit("text"))
    return F.array_join(F.transform(texts, lambda s: s["text"]), " ")


def span_signature(spans_col: str = "spans") -> F.Column:
    """Canonical signature of the span sequence (kind, text, media_ref, order)
    — used by tests to assert the round-trip invariant.

    md5 over unit/record-separator-joined fields (NOT to_json): the byte
    stream is trivially reproducible in any engine (DuckDB oracle mirrors
    it with coalesce(field, chr(0)) || chr(31) || ... aggregated with
    chr(30) ORDER BY offset), where JSON escaping rules are engine-specific.

    Each field is coalesced to a NUL sentinel BEFORE joining: concat_ws
    skips NULL arguments, so two spans with swapped null fields
    (text='x'/media_ref=NULL vs text=NULL/media_ref='x') would otherwise
    collide on 'kind<US>x' and distinct span sequences could wrongly match."""
    ordered = F.array_sort(F.col(spans_col), lambda a, b: a["offset"] - b["offset"])
    nul = F.lit("\x00")
    return F.md5(
        F.array_join(
            F.transform(
                ordered,
                lambda s: F.concat_ws(
                    "\x1f",
                    F.coalesce(s["kind"], nul),
                    F.coalesce(s["text"], nul),
                    F.coalesce(s["media_ref"], nul),
                ),
            ),
            "\x1e",
        )
    )


def with_story(docs: DataFrame, spans_col: str = "spans") -> DataFrame:
    return docs.withColumn("story", story_expr(spans_col))


def token_count_expr(story_col: str = "story") -> F.Column:
    """Whitespace-split word count (reference src/utils/data_processing.py:52):
    the size of ``text.word_tokens``, so blank stories count 0."""
    return F.size(word_tokens(F.col(story_col)))


def quality_filter(docs: DataFrame, min_tokens: int = DEFAULT_MIN_TOKENS,
                   story_col: str = "story") -> DataFrame:
    """headline/story non-null + is_english + token floor
    (reference src/utils/data_processing.py:56-61). Plain conjunctive
    predicate -> Catalyst pushes the non-derived parts to the parquet scan."""
    return (
        docs.withColumn("token_count", token_count_expr(story_col))
        .filter(
            F.col("headline").isNotNull()
            & F.col(story_col).isNotNull()
            & (F.col(story_col) != "")
            & F.col("is_english")
            & (F.col("token_count") >= min_tokens)
        )
    )


def dedup_by_story(docs: DataFrame, story_col: str = "story",
                   id_col: str = "doc_id") -> DataFrame:
    """Keep the first (lowest doc_id) row per distinct story — deterministic
    keep-first, matching pandas drop_duplicates(subset='story')
    (reference src/utils/data_processing.py:64).

    Scale note: dedupe on a 64-char digest, not the full story string — the
    shuffle moves 64 bytes/row of key instead of the multi-KB article text.
    """
    w = Window.partitionBy(F.sha2(F.col(story_col), 256)).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def seeded_sample(docs: DataFrame, n: int, seed: int = 42,
                  id_col: str = "doc_id") -> DataFrame:
    """Exactly-n seeded sample (reference src/utils/data_processing.py:115-120
    — df.sample(n=..., random_state=42)).

    Content-hash sampling (order by md5(seed:id)) rather than rand(seed):
    Spark seeds rand() per PARTITION, so its output changes under
    repartitioning; a content hash is a pure function of the row and stays
    identical on any cluster layout (and in any engine)."""
    return (
        docs.withColumn("_r", F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col))))
        .orderBy("_r", id_col)
        .limit(n)
        .drop("_r")
    )


def stratified_sample(docs: DataFrame, strata_col: str, n_per_stratum: int,
                      seed: int = 42, id_col: str = "doc_id") -> DataFrame:
    """Exactly-n-per-group seeded sample — the class-balanced variant of
    ``seeded_sample`` a training pipeline uses to cap dominant classes
    (language, source, label) without starving rare ones.

    Same content-hash determinism argument: rank by md5(seed:id) WITHIN
    each stratum (window row_number), identical on any partitioning and
    in any engine. One shuffle keyed by the stratum; a hub stratum's
    sort is bounded by that stratum's rows — for pathological strata,
    pre-filter with a hash-prefix predicate before ranking."""
    r = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(r.asc(), F.col(id_col).asc())
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_per_stratum)
        .drop("_rn")
    )


def resume_anti_join(docs: DataFrame, processed: DataFrame,
                     id_col: str = "doc_id") -> DataFrame:
    """Drop docs already processed — the reference's checkpoint skip
    (reference src/runners/run_llm_task.py:37-49) as a left-anti join.
    With a small checkpoint side Catalyst broadcasts it; at 10^12-doc scale
    both sides are bucketed by doc_id so the anti-join is shuffle-free."""
    return docs.join(processed.select(id_col).distinct(), id_col, "left_anti")


def batch_limit(docs: DataFrame, batch_size: int = 5000) -> DataFrame:
    """Bounded micro-batch (reference src/runners/run_llm_task.py:76-79)."""
    return docs.limit(batch_size)
