"""Text-analysis operators for large-scale training-data pipelines.

All pure Catalyst column expressions (whole-stage codegen, no UDFs), each
deliberately written with engine-portable primitives (length/replace/md5/
regexp) so the DuckDB oracle in __spark_entry__.py computes bit-identical
results — that is the correctness gate for these operators.

Every whitespace word split and word n-gram window goes through one stage:
``word_tokens`` (split on \\s+, empty tokens dropped) and ``word_ngrams``
(space-joined n-token windows, optionally hashed per gram, with an explicit
rule for docs shorter than n). ``dedup`` and ``prep`` use the same two; the
DuckDB twins are ``_TOKENS`` and ``_ngrams_sql`` in __spark_entry__.py.

Operators: BPE-ish token counting (the whitespace count is
prep.token_count_expr), language-ID (stopword-hit heuristic), quality
scoring (length/punct/stopword ratios), document
fingerprinting (exact md5 + shingle + MOSS winnowing), TF-IDF top-terms,
document chunking (overlapping token windows) + sequence packing
(token-budget bins), PII redaction with audit counts, Gopher-style
repetition/boilerplate signals, and benchmark decontamination (test-set
n-gram overlap flagging).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity import check_int

# tiny per-language stopword markers; counted as substring occurrences with
# spaces to avoid word-boundary regex differences across engines
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to ", " a "],
    "es": [" el ", " la ", " los ", " de ", " que "],
    "de": [" der ", " die ", " und ", " das ", " nicht "],
    "fr": [" le ", " la ", " les ", " et ", " que "],
}

ENGLISH_STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "that", "for"]


def occurrences(col: Column, needle: str) -> Column:
    """# of occurrences of a literal substring — (len - len(removed)) / len(needle).
    Portable to any SQL engine (no regex)."""
    return (
        F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit("")))
    ) / len(needle)


def word_tokens(c: Column) -> Column:
    """Whitespace tokens of ``c`` with empty tokens dropped (``split`` on
    \\s+ emits a leading "" for leading blanks and one for "").  Callers
    pass the column already normalized (lowercased, trimmed) as they need."""
    return F.filter(F.split(c, r"\s+"), lambda w: w != F.lit(""))


def word_ngrams(toks: Column, n: int, gram=lambda g: g,
                keep_short: bool = True) -> Column:
    """``gram`` of every space-joined ``n``-token window of the token array
    ``toks``, in order.  A doc with fewer than ``n`` tokens gives
    ``[gram(all tokens joined)]`` when ``keep_short`` (a short doc can still
    match itself) and ``[]`` otherwise."""
    check_int("n-gram length n", n)
    sz = F.size(toks)
    short = (F.array(gram(F.concat_ws(" ", toks))) if keep_short
             else F.array().cast("array<string>"))
    return F.when(
        sz >= n,
        F.transform(F.sequence(F.lit(1), sz - (n - 1)),
                    lambda i: gram(F.concat_ws(" ", F.slice(toks, i, n)))),
    ).otherwise(short)


# GPT2-style pre-tokenizer shape, restricted to constructs Java regex and
# RE2 (DuckDB) evaluate identically: contractions, space-prefixed letter /
# digit runs, space-prefixed punctuation runs, residual whitespace runs
# (which we drop from the count, like BPE treats them as glue).
BPE_TOKEN_REGEX = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+"


def bpe_token_count_expr(text_col: str = "text") -> Column:
    """BPE-ish token count: matches of the GPT2-shaped pre-tokenizer regex.
    A far better LLM-cost proxy than whitespace words (punctuation and
    contractions count separately); pure `regexp_extract_all`, JVM-side."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_REGEX), F.lit(0)))


def lang_score_expr(text_col: str, lang: str) -> Column:
    padded = F.concat(F.lit(" "), F.lower(F.col(text_col)), F.lit(" "))
    s = None
    for m in LANG_MARKERS[lang]:
        o = occurrences(padded, m)
        s = o if s is None else s + o
    return s


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram/stopword-heuristic language ID → (doc_id, lang_pred, score).

    greatest-of-scores with a deterministic tie order (en > es > de > fr)."""
    scored = docs.select(
        "doc_id",
        *[lang_score_expr(text_col, l).alias(f"score_{l}") for l in LANG_MARKERS],
    )
    best = F.greatest(*[F.col(f"score_{l}") for l in LANG_MARKERS])
    pred = (
        F.when(F.col("score_en") == best, F.lit("en"))
        .when(F.col("score_es") == best, F.lit("es"))
        .when(F.col("score_de") == best, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    return scored.select(
        "doc_id",
        F.when(best > 0, pred).otherwise(F.lit("und")).alias("lang_pred"),
        best.cast("double").alias("lang_score"),
    )


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic doc-quality score in [0,1]:
    0.4 * min(1, tokens/100) + 0.3 * (1 - punct_ratio) + 0.3 * min(1, 4*stop_ratio)

    - punct_ratio: non [a-z0-9 ] chars over length (lowercased)
    - stop_ratio: English stopword tokens over tokens
    """
    low = F.lower(F.col(text_col))
    toks = word_tokens(low)
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda w: w.isin(*ENGLISH_STOPWORDS)))
    punct = F.length(F.regexp_replace(low, r"[a-z0-9\s]", ""))
    punct_ratio = F.when(F.length(low) > 0, punct / F.length(low)).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    score = (
        0.4 * F.least(F.lit(1.0), n_tok / F.lit(100.0))
        + 0.3 * (F.lit(1.0) - punct_ratio)
        + 0.3 * F.least(F.lit(1.0), 4.0 * stop_ratio)
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprints: exact (md5 of normalized text) and a shingle
    fingerprint (min md5 over 3-word shingles — a 1-permutation MinHash /
    rolling-hash winnow)."""
    norm = F.lower(F.trim(F.col(text_col)))
    sh = word_ngrams(word_tokens(norm), 3, gram=F.md5)
    return docs.select(
        "doc_id",
        F.md5(norm).alias("exact_fp"),
        F.array_min(sh).alias("shingle_fp"),
    )


def winnow_fingerprints(docs: DataFrame, text_col: str = "text",
                        k: int = 3, window: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer/Wilkerson/Aiken, the MOSS scheme):
    hash every k-gram shingle, slide a ``window`` over the hash sequence,
    keep the minimum of each window, emit the DISTINCT minima — guarantees
    any shared run of ≥ window+k-1 tokens between two documents shares a
    fingerprint. One row per (doc_id, fp): the natural join key for a
    plagiarism/near-dup blocking pass (fp is the blocking key at scale).
    Pure higher-order functions over the shingle-hash array — no UDF."""
    check_int("window", window)
    hashes = word_ngrams(word_tokens(F.lower(F.trim(F.col(text_col)))), k,
                         gram=F.md5)
    nh = F.size(hashes)
    minima = F.when(
        nh >= window,
        F.transform(
            F.sequence(F.lit(1), nh - (window - 1)),
            lambda i: F.array_min(F.slice(hashes, i, window)),
        ),
    ).otherwise(F.array(F.array_min(hashes)))
    return docs.select(
        "doc_id", F.explode(F.array_distinct(minima)).alias("fp")
    )


def tfidf_top_terms(docs: DataFrame, text_col: str = "text",
                    k: int = 3) -> DataFrame:
    """Per-document top-``k`` TF-IDF terms — the classic quality /
    topicality feature for training-data curation.

    idf is the exact rational ``(N+1)/(df+1)`` (no log): tf, df and N
    are integers and the score is one IEEE multiply + divide, so it is
    bit-identical across engines and the per-doc rank order (score
    DESC, term ASC) is deterministic — which is what makes an exact
    cross-engine oracle possible. A log-idf variant is ``F.log`` on the
    same frame, but libm last-ulp differences between engines make rank
    ties unstable, so the oracle-checked form stays rational.

    Plan shape at scale: explode → hash agg tf per (doc, term) → hash
    agg df per term (vocabulary-sized, broadcast back onto tf) →
    per-doc top-k window. The only big shuffle is the tf agg, keyed by
    (doc_id, term) — no hot keys by construction.
    """
    from pyspark.sql import Window

    toks = F.filter(
        F.split(F.lower(F.col(text_col)), "[^a-z]+"),
        lambda w: w != F.lit(""),
    )
    terms = docs.select("doc_id", F.explode(toks).alias("term"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # N as a broadcast 1-row aggregate, NOT an eager .count(): the operator
    # stays lazy and single-pass — a driver-side count would execute the
    # whole upstream lineage once for the scalar and again for the real job
    nd = docs.agg(F.count_distinct("doc_id").alias("__n"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # no explicit broadcast on df: vocabulary size grows with the corpus,
    # and a forced hint bypasses the planner's size check — at 100 TB the
    # df table can exceed the broadcast limit and kill the job (ADVICE r3).
    # AQE sees the post-agg size at runtime and broadcasts iff it fits;
    # otherwise this is a plain shuffle join keyed by term (no hot keys:
    # df has one row per term).
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "score",
            (F.col("tf").cast("double") * (F.col("__n") + F.lit(1)).cast("double"))
            / (F.col("df") + F.lit(1)).cast("double"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score", "rank")
    )


def chunk_documents(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", chunk_tokens: int = 64,
                    overlap: int = 8) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    context-window packing pass of an LLM training-data pipeline. One row
    per (doc, chunk): chunk_id, start_token, n_tokens, chunk_text.

    Chunk starts step by ``chunk_tokens - overlap``; a start is emitted
    only while it adds at least one new token (no chunk is a suffix of its
    predecessor), and empty documents emit nothing. Pure Catalyst
    (split → sequence → explode → slice/array_join, whole-stage codegen):
    a shuffle-FREE map stage — chunks inherit the input partitioning, so
    at 100 TB this pipelines with the parquet scan and never exchanges.
    Tokens re-join with single spaces (engines agree bit-exactly; original
    whitespace is not preserved, same as any tokenizing chunker).
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    d = (
        docs.withColumn("__toks", word_tokens(F.trim(F.col(text_col))))
        .withColumn("__n", F.size("__toks"))
        .filter(F.col("__n") > 0)
    )
    # largest start emitted: greatest multiple of step < n - overlap
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.col("__n") - overlap - 1, F.lit(0)),
        F.lit(step),
    )
    d = d.withColumn("__s", F.explode(starts))
    return d.select(
        F.col(id_col),
        (F.col("__s") / step).cast("long").alias("chunk_id"),
        F.col("__s").cast("long").alias("start_token"),
        F.least(F.lit(chunk_tokens), F.col("__n") - F.col("__s"))
        .cast("long")
        .alias("n_tokens"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("__s") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


# PII patterns, applied IN ORDER (each replace runs on the previous result,
# so overlapping matchers — an SSN is also a valid phone-shaped string —
# resolve deterministically and identically in any engine). ASCII-only
# constructs shared by Java regex and RE2.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    ("ssn", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b", "[SSN]"),
    ("ipv4", r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "[IP]"),
    ("phone", r"\+?[0-9][0-9()\-\s]{7,}[0-9]", "[PHONE]"),
]


def redact_pii(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing for training corpora: sequentially redact emails,
    SSNs, IPv4s, phone-shaped numbers, with per-kind match counts for the
    audit trail. Pure Catalyst (regexp_replace/regexp_count — whole-stage
    codegen, no UDF, shuffle-free); counts are taken on the text as it
    stands BEFORE that pattern's replace, so the count pipeline is
    engine-reproducible."""
    cur = F.col(text_col)
    counts = []
    for name, pat, sub in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).cast("long")
                      .alias(f"n_{name}"))
        cur = F.regexp_replace(cur, pat, sub)
    return docs.select(F.col(id_col), *counts, cur.alias("redacted"))


def gopher_quality_signals(docs: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           line_sep: str = "\n") -> DataFrame:
    """Repetition / boilerplate signals in the style of the published
    Gopher / RefinedWeb filtering rules: duplicate-line fraction, mean word
    length, symbol-to-word ratio ('#' and '...'), fraction of lines ending
    in an ellipsis — plus the combined pass/fail the published thresholds
    imply (3 <= mean_word_len <= 10, symbol_ratio < 0.1,
    dup_line_frac < 0.3, ellipsis_line_frac < 0.3). All array/aggregate
    expressions — shuffle-free, engine-portable."""
    import re as _re

    lines = F.filter(F.split(F.col(text_col), _re.escape(line_sep)),
                     lambda x: x != F.lit(""))
    n_lines = F.size(lines)
    dup_frac = F.when(
        n_lines > 0,
        (n_lines - F.size(F.array_distinct(lines))).cast("double")
        / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    toks = word_tokens(F.col(text_col))
    n_tok = F.size(toks)
    sum_len = F.aggregate(toks, F.lit(0),
                          lambda acc, w: acc + F.length(w))
    mean_wl = F.when(n_tok > 0,
                     sum_len.cast("double") / n_tok.cast("double")
                     ).otherwise(F.lit(0.0))
    n_sym = (occurrences(F.col(text_col), "#")
             + occurrences(F.col(text_col), "..."))
    sym_ratio = F.when(n_tok > 0,
                       n_sym.cast("double") / n_tok.cast("double")
                       ).otherwise(F.lit(0.0))
    ell_frac = F.when(
        n_lines > 0,
        F.size(F.filter(lines, lambda x: x.endswith("..."))).cast("double")
        / n_lines.cast("double"),
    ).otherwise(F.lit(0.0))
    gopher_pass = (
        (mean_wl >= 3.0) & (mean_wl <= 10.0) & (sym_ratio < 0.1)
        & (dup_frac < 0.3) & (ell_frac < 0.3)
    )
    return docs.select(
        F.col(id_col),
        n_lines.cast("long").alias("n_lines"),
        F.round(dup_frac, 6).alias("dup_line_frac"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        F.round(ell_frac, 6).alias("ellipsis_line_frac"),
        gopher_pass.alias("gopher_pass"),
    )


# Gopher (Rae et al. 2021, table A1) repetition thresholds: max fraction of
# characters in the single most frequent n-gram / in duplicated n-grams.
GOPHER_TOP_NGRAM_THRESH = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_THRESH = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def ngram_repetition_signals(docs: DataFrame, top_n: int = 2, dup_n: int = 5,
                             text_col: str = "text",
                             id_col: str = "doc_id") -> DataFrame:
    """The Gopher repetition rules the line-level signals miss: fraction of
    characters inside the single most frequent word ``top_n``-gram (Gopher
    caps it at 0.20/0.18/0.16 for n=2/3/4) and fraction of characters in
    DUPLICATED ``dup_n``-grams (0.15..0.10 for n=5..10). Character counts
    follow the paper's convention — overlapping occurrences overcount, the
    denominator is total token characters.

    Two explode→agg passes keyed by doc_id (per-doc gram cardinality is
    bounded by doc length, so the shuffle key has no hub skew; both windows
    reuse the groupBy's hash partitioning). `repetition_pass` applies the
    published thresholds when the chosen n has one."""
    from pyspark.sql import Window

    toks = word_tokens(F.lower(F.trim(F.col(text_col))))
    base = docs.select(
        F.col(id_col),
        F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w))
        .cast("long").alias("_total_chars"),
    )

    def gram_counts(n: int) -> DataFrame:
        g = docs.select(
            F.col(id_col),
            F.explode(word_ngrams(toks, n, keep_short=False)).alias("gram"),
        )
        # chars in one occurrence = gram length minus its n-1 separators
        return (
            g.groupBy(id_col, "gram")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumn("chars", (F.length("gram") - F.lit(n - 1)).cast("long"))
        )

    top = gram_counts(top_n)
    w = Window.partitionBy(id_col).orderBy(F.col("c").desc(), F.col("gram").asc())
    top1 = (
        top.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
        .select(F.col(id_col), F.col("gram").alias("top_ngram"),
                (F.col("c") * F.col("chars")).alias("_top_chars"))
    )
    dup = (
        gram_counts(dup_n).filter(F.col("c") >= 2)
        .groupBy(id_col)
        .agg(F.sum(F.col("c") * F.col("chars")).alias("_dup_chars"))
    )
    out = (
        base.join(top1, id_col, "left").join(dup, id_col, "left")
        .withColumn("_top_chars", F.coalesce("_top_chars", F.lit(0)))
        .withColumn("_dup_chars", F.coalesce("_dup_chars", F.lit(0)))
    )
    tot = F.col("_total_chars").cast("double")
    top_frac = F.when(F.col("_total_chars") > 0,
                      F.col("_top_chars").cast("double") / tot
                      ).otherwise(F.lit(0.0))
    dup_frac = F.when(F.col("_total_chars") > 0,
                      F.col("_dup_chars").cast("double") / tot
                      ).otherwise(F.lit(0.0))
    checks = []
    if top_n in GOPHER_TOP_NGRAM_THRESH:
        checks.append(top_frac <= F.lit(GOPHER_TOP_NGRAM_THRESH[top_n]))
    if dup_n in GOPHER_DUP_NGRAM_THRESH:
        checks.append(dup_frac <= F.lit(GOPHER_DUP_NGRAM_THRESH[dup_n]))
    rep_pass = F.lit(True)
    for c in checks:
        rep_pass = rep_pass & c
    return out.select(
        F.col(id_col),
        F.col("top_ngram"),
        F.round(top_frac, 6).alias("top_ngram_char_frac"),
        F.round(dup_frac, 6).alias("dup_ngram_char_frac"),
        rep_pass.alias("repetition_pass"),
    )


def decontaminate(docs: DataFrame, test_docs: DataFrame, n: int = 8,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C / Llama recipe):
    flag training documents that share any lowercase word n-gram with a
    held-out test/benchmark corpus, so evaluation data can be removed from
    the training set. Adds `contaminated_ngrams` (distinct matched grams)
    and `is_contaminated` to every docs row.

    100 TB shape: benchmark corpora are KBs-to-MBs even when training data
    is 100 TB, so the test side's DISTINCT gram-hash set is broadcast and
    the flag is a broadcast inner join + per-doc agg — the big side is
    scanned once, bodies never shuffle (only (doc_id, 32B hash) pairs of
    MATCHED grams reach the aggregate), and clean docs rejoin via the
    doc_id left join."""
    hashes = F.array_distinct(word_ngrams(
        word_tokens(F.lower(F.trim(F.col(text_col)))), n, gram=F.md5))
    grams = docs.select(F.col(id_col), F.explode(hashes).alias("g"))
    test_grams = test_docs.select(F.explode(hashes).alias("g")).distinct()
    hits = (
        grams.join(F.broadcast(test_grams), "g")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("contaminated_ngrams"))
    )
    return (
        docs.join(hits, id_col, "left")
        .withColumn(
            "contaminated_ngrams",
            F.coalesce(F.col("contaminated_ngrams"), F.lit(0).cast("long")),
        )
        .withColumn("is_contaminated", F.col("contaminated_ngrams") > 0)
    )


def pack_chunks(chunks: DataFrame, budget: int, doc_col: str = "doc_id",
                order_col: str = "chunk_id", tokens_col: str = "n_tokens",
                text_col: str = "chunk_text") -> DataFrame:
    """Sequence packing: assign each ordered chunk to a fixed token-budget
    bin by its START offset in the doc's concatenated token stream
    (bin = floor(tokens_before / budget)) and concatenate each bin's texts
    — the batch-prep pass that turns chunked docs into training sequences.

    Offset-based assignment (not first-fit) keeps the operator a single
    window + hash agg: greedy first-fit needs per-row sequential state, so
    a bin here may overflow by at most one chunk (the straddler) — the
    standard streaming-pack tradeoff, and deterministic in any engine.
    One shuffle for the window (per-doc sort), the groupBy reuses the same
    partitioning."""
    from pyspark.sql import Window

    if budget <= 0:
        raise ValueError("budget must be positive")
    w = (
        Window.partitionBy(doc_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(tokens_col).over(w), F.lit(0))
    binned = chunks.withColumn(
        "bin_id", F.floor(before / F.lit(budget)).cast("long")
    )
    packed = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(F.struct(order_col, text_col))),
            lambda s: s[text_col],
        ),
        " ",
    )
    return binned.groupBy(doc_col, "bin_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(tokens_col).cast("long").alias("n_tokens"),
        packed.alias("packed_text"),
    )
