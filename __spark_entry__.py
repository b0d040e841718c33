"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship KG query on the deterministic interleaved-span
fixture corpus (the BASELINE.json input shape, synthesized at small scale).

``queries()`` — 50 queries, one per implemented operator family (SURVEY.md
§2 + the training-data operators). EVERY query has an exact DuckDB oracle
under the same name in ``oracle_sql()``:
- ``q_*``  : run on the driver's testdata parquet tables; oracles are SQL
  twins (hashing is md5-based everywhere so both engines compute identical
  values);
- ``kg_*`` : run on the deterministic interleaved-document fixture corpus
  COMMITTED under .fixtures/corpus_n400_s42/; the strongest oracles compare
  pipeline output against the fixture's by-construction GROUND TRUTH
  (kg_triples / kg_vertices / kg_ops_metrics / kg_graph_suite), so the
  driver's hash match IS the P/R parity gate. The pytest suite
  additionally gates resume idempotence and evaluator parity.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

FIXTURE_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".fixtures")

# ---------------------------------------------------------------------------
# fixture corpus management (deterministic, cached on disk per size)
# ---------------------------------------------------------------------------

def _fixture_dir(n_docs: int, seed: int = 42) -> str:
    return os.path.join(FIXTURE_ROOT, f"corpus_n{n_docs}_s{seed}")


def ensure_fixture(spark: SparkSession, n_docs: int, seed: int = 42) -> str:
    """Materialize documents/alias_dict/gt tables + run the KG pipeline once;
    memoized on disk (marker file)."""
    from financial_knowledge_graphs_spark import fixtures
    from financial_knowledge_graphs_spark.pipeline import PipelineConfig, run_pipeline

    root = _fixture_dir(n_docs, seed)
    marker = os.path.join(root, "_COMPLETE")
    if os.path.exists(marker):
        return root
    os.makedirs(root, exist_ok=True)
    # corpus tables are committed to the repo (the kg oracles read them from
    # DuckDB); regenerate only when absent — content is deterministic either
    # way, this just avoids churning committed parquet binaries
    tables_marker = os.path.join(root, "_TABLES")
    if not os.path.exists(tables_marker):
        fixtures.write_corpus(spark, root, n_docs=n_docs, seed=seed)
        with open(tables_marker, "w") as f:
            f.write("ok")
    docs = spark.read.parquet(os.path.join(root, "documents"))
    alias = spark.read.parquet(os.path.join(root, "alias_dict"))
    run_pipeline(
        spark, docs, alias,
        PipelineConfig(warehouse=os.path.join(root, "warehouse")),
    )
    with open(marker, "w") as f:
        f.write("ok")
    return root


def _kg_n_docs(sf_dir: str) -> int:
    # one fixture size at every sf: the kg_* oracle SQL reads the committed
    # corpus_n400 tables, so the Spark side must run on the SAME corpus
    # regardless of which sf dir the driver passes (the kg fixture is not
    # derived from the testdata tables). Throughput scaling is bench.py /
    # bench_scaling.py's job, on corpora 100-5000x this size.
    return 400


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# entry: flagship query
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: acquisitions ledger — all 'acquired' edges with value,
    aggregated by acquirer, from the end-to-end KG pipeline output."""
    from financial_knowledge_graphs_spark.operators.materialize import read_graph_table

    root = ensure_fixture(spark, 400)  # the committed correctness fixture
    triples = read_graph_table(spark, os.path.join(root, "warehouse", "graph", "triples"))
    return (
        triples.filter(F.col("pred") == "acquired")
        .groupBy(F.col("subj_name").alias("acquirer"))
        .agg(
            F.count(F.lit(1)).alias("n_acquisitions"),
            F.round(F.sum("valueAmount"), 2).alias("total_value"),
        )
        .orderBy(F.desc("n_acquisitions"), "acquirer")
    )


# ---------------------------------------------------------------------------
# oracle-checked queries (testdata tables)
# ---------------------------------------------------------------------------

def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.2 rows 11-12: quality predicate + derived token_count."""
    from financial_knowledge_graphs_spark.operators.prep import token_count_expr

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("token_count", token_count_expr("text").cast("long"))
        .filter((F.col("lang") == "en") & (F.col("n_chars") >= 200) & (F.col("token_count") >= 30))
        .select("doc_id", "token_count", "n_chars")
    )


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.7 row 51: token-distribution stats per language.

    avg is computed as exact-long sum / count (NOT F.avg: Spark's avg over
    longs accumulates in double with order-dependent last-ulp error, while
    DuckDB sums exactly — the round-1 hash mismatch)."""
    from financial_knowledge_graphs_spark.operators.prep import token_count_expr

    d = _t(spark, sf_dir, "documents").withColumn("tc", token_count_expr("text").cast("long"))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("tc") / F.count(F.lit(1)), 6).alias("avg_tokens"),
        F.min("tc").alias("min_tokens"),
        F.max("tc").alias("max_tokens"),
        F.sum("tc").alias("sum_tokens"),
    )


def q_token_hist_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-shaped token histogram (reference data_processing.py:189 —
    plt.hist with fixed-range bins): explicit [lo, hi) edges, out-of-range
    values DROPPED, right edge of the LAST bin inclusive. The reference uses
    range(200, 2200, 100) for real news articles; the testdata docs are
    shorter, so the range is scaled to [0, 200) step 25 — same semantics."""
    from financial_knowledge_graphs_spark.operators.prep import token_count_expr

    lo, hi, width = 0, 200, 25
    d = _t(spark, sf_dir, "documents").withColumn(
        "tc", (F.floor(token_count_expr("text") * 1.3) + 10).cast("long")
    )
    return (
        d.filter((F.col("tc") >= lo) & (F.col("tc") <= hi))
        .withColumn(
            "bin_lo",
            F.least(
                F.lit(hi - width),
                (F.floor((F.col("tc") - lo) / width) * width + lo),
            ).cast("long"),
        )
        .groupBy("bin_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish (GPT2-pre-tokenizer-shaped) token counting next to the
    whitespace count — the LLM-cost-proxy pair a training pipeline needs."""
    from financial_knowledge_graphs_spark.operators.prep import token_count_expr
    from financial_knowledge_graphs_spark.operators.text import bpe_token_count_expr

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count_expr("text").cast("long").alias("ws_tokens"),
        bpe_token_count_expr("text").cast("long").alias("bpe_tokens"),
    )


_PII_INJECT = ("@mail.example.com now. Call 415-555-0123 or visit 10.0.0.1 "
               "ssn 123-45-6789 end")


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing with per-kind audit counts. The synthetic docs carry
    no PII, so a deterministic md5-subset gets emails/phones/SSNs/IPs
    injected IDENTICALLY in the Spark query and the oracle (the
    q_dedup_exact precedent for non-vacuous driver rows)."""
    from financial_knowledge_graphs_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    subset = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2", "3")
    injected = F.when(
        subset,
        F.concat(F.col("text"), F.lit(" Contact user"),
                 F.col("doc_id").cast("string"), F.lit(_PII_INJECT)),
    ).otherwise(F.col("text"))
    return redact_pii(d.withColumn("text", injected))


def q_gopher_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/RefinedWeb-style repetition + boilerplate signals. Lines are
    derived by replacing the literal token ' merge ' with newlines (the
    synthetic docs are single-line), and an md5-subset gains duplicate +
    ellipsis + symbol lines — identically in both engines."""
    from financial_knowledge_graphs_spark.operators.text import (
        gopher_quality_signals,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    subset = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1", "2", "3")
    t2 = F.concat(
        F.replace(F.col("text"), F.lit(" merge "), F.lit("\n")),
        F.when(subset, F.lit("\nfoo ...\nfoo ...\n## #")).otherwise(F.lit("")),
    )
    return gopher_quality_signals(d.withColumn("text", t2))


def q_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher n-gram repetition rules: top-2-gram and duplicated-5-gram
    character fractions + the published-threshold pass (0.20 / 0.15). An
    md5-subset gains a twice-repeated 5-token phrase so the duplicated-gram
    branch is non-vacuous at the driver scale — identically in both
    engines."""
    from financial_knowledge_graphs_spark.operators.text import (
        ngram_repetition_signals,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    subset = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1")
    rep = " alpha beta gamma delta epsilon alpha beta gamma delta epsilon"
    t2 = F.concat(F.col("text"),
                  F.when(subset, F.lit(rep)).otherwise(F.lit("")))
    return ngram_repetition_signals(d.withColumn("text", t2),
                                    top_n=2, dup_n=5)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix-C recipe): flag docs
    sharing any lowercase word 8-gram with a held-out 'benchmark' — here
    the deterministic md5-'0'/'1' doc_id subset of the corpus itself, so
    the row is non-vacuous (subset members self-match; near-dups sharing
    an 8-token run also flag)."""
    from financial_knowledge_graphs_spark.operators.text import decontaminate

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    test = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    )
    return decontaminate(d, test, n=8).select(
        "doc_id", "contaminated_ngrams", "is_contaminated"
    )


def q_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 span-level dedup: remove all but the first occurrence of any
    duplicated 3-sentence span. An md5-subset of docs gains a shared
    3-sentence block so the row is non-vacuous: exactly one subject doc
    (the min (doc_id, position)) keeps the block, every other loses it."""
    from financial_knowledge_graphs_spark.operators.dedup import c4_span_dedup

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    subset = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1")
    rep = ". alpha beta. gamma delta. epsilon zeta"
    t2 = F.concat(F.col("text"),
                  F.when(subset, F.lit(rep)).otherwise(F.lit("")))
    return c4_span_dedup(d.withColumn("text", t2))


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, 8-token
    overlap) — the context-packing pass of a training-data pipeline;
    shuffle-free map stage (chunks inherit the scan partitioning)."""
    from financial_knowledge_graphs_spark.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, chunk_tokens=64, overlap=8)


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: 32-token chunks (no overlap) packed into 128-token
    bins by start-offset — chunking's downstream batch-prep pass; one
    window + one hash agg sharing the per-doc partitioning."""
    from financial_knowledge_graphs_spark.operators.text import (
        chunk_documents, pack_chunks,
    )

    d = _t(spark, sf_dir, "documents")
    return pack_chunks(chunk_documents(d, chunk_tokens=32, overlap=0),
                       budget=128)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup over a corpus with KNOWN duplicates: the testdata
    documents carry none at small SF, so the query unions in a deterministic
    duplicate of every doc whose id-md5 starts with '0' (~1/16 of the corpus)
    — the driver row then proves the operator finds them, instead of
    matching 0 == 0 (VERDICT r2 missing #3)."""
    from financial_knowledge_graphs_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    dups = d.filter(F.md5("doc_id").substr(1, 1) == "0").select(
        F.concat(F.col("doc_id"), F.lit("_dup")).alias("doc_id"), "text"
    )
    return exact_duplicates(d.unionByName(dups))


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_knowledge_graphs_spark.operators.text import lang_id

    out = lang_id(_t(spark, sf_dir, "documents"))
    return out.select("doc_id", "lang_pred", F.round("lang_score", 6).alias("lang_score"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_knowledge_graphs_spark.operators.text import quality_score

    return quality_score(_t(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 TF-IDF terms (exact rational idf — see operator
    docstring for why the oracle-checked form avoids log)."""
    from financial_knowledge_graphs_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def q_name_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.4 row 26: the reference's entity-name normalization
    (reference src/db/neo4j_handler.py:36-68) — the parity-critical
    transform that drives linking/canonicalization. Legal suffixes are
    synthesized onto part names so the suffix-strip + stopword paths all
    execute."""
    from financial_knowledge_graphs_spark.operators.normalize import normalize_name_expr

    p = _t(spark, sf_dir, "part")
    name = F.concat(
        F.col("p_name"),
        F.when(F.col("p_partkey") % 4 == 0, F.lit(", Inc."))
        .when(F.col("p_partkey") % 4 == 1, F.lit(" Corp"))
        .when(F.col("p_partkey") % 4 == 2, F.lit(" & Co. Ltd."))
        .otherwise(F.lit("")),
    )
    return p.select(
        "p_partkey",
        name.alias("name"),
        normalize_name_expr(name).alias("norm"),
    )


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS rolling-hash minima) fingerprints — one row per
    (doc, fingerprint); the blocking key for shared-substring detection."""
    from financial_knowledge_graphs_spark.operators.text import winnow_fingerprints

    return winnow_fingerprints(_t(spark, sf_dir, "documents"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_knowledge_graphs_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → clusters → canonical keeper: the dedup DECISION step. Exact
    n-gram-Jaccard pairs (same emitter as q_ngram_jaccard) collapsed by
    connected components; cluster_id = min member, keeper = that member,
    singletons included. Oracle = the pairs oracle + 12 unrolled hash-min
    supersteps (dup-chain diameter at this SF is far below 12, so both
    sides are at the fixpoint)."""
    from financial_knowledge_graphs_spark.operators.dedup import (
        near_dup_clusters,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    return near_dup_clusters(docs, ngram_jaccard_pairs(docs, threshold=0.8))


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_knowledge_graphs_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(_t(spark, sf_dir, "documents"), threshold=0.8)


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_knowledge_graphs_spark.operators.dedup import embedding_near_dup_pairs

    return embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup blocked by sign-LSH buckets (the 100 TB path —
    no fixture label column; VERDICT r1 next #8)."""
    from financial_knowledge_graphs_spark.operators.dedup import (
        embedding_near_dup_pairs_lsh,
    )

    return embedding_near_dup_pairs_lsh(_t(spark, sf_dir, "embeddings"), threshold=0.4)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from financial_knowledge_graphs_spark.operators.similarity import brute_force_topk

    e = _t(spark, sf_dir, "embeddings")
    return brute_force_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN (coarse-quantizer scale path, next to sign-LSH)."""
    from financial_knowledge_graphs_spark.operators.similarity import ivf_topk

    e = _t(spark, sf_dir, "embeddings")
    return ivf_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balanced seeded sample: exactly 5 orders per order status,
    ranked by content hash within each stratum (engine- and
    partitioning-independent)."""
    from financial_knowledge_graphs_spark.operators.prep import stratified_sample

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey")
    return stratified_sample(
        o, "o_orderstatus", 5, seed=42, id_col="o_orderkey")


def q_anti_join_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 row 17: resume anti-join pattern (customers w/o orders)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return c.join(o.select("o_custkey").distinct(),
                  c.c_custkey == F.col("o_custkey"), "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY §2.3 rows 18/20: top-N per key (window row_number)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("totalprice"), "rn")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped aggregate (partial/final hash agg showcase); decimal
    sums so both engines are bit-exact."""
    l = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2024-12-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum((dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))).cast("decimal(28,6)")).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (each event -> most recent order at or before
    its timestamp, per customer) via the single-shuffle union-sort-merge
    in operators/timeseries.py — NOT a range join (which explodes to all
    (event, earlier-order) pairs before picking the max). Oracle is the
    naive join+window formulation, cheap at oracle scale."""
    from financial_knowledge_graphs_spark.operators.timeseries import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderkey", "o_orderdate",
        "o_totalprice",
    )
    res = asof_join(
        e, o, on=["user_id"], left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey", "o_totalprice"], tiebreak="o_orderkey",
    )
    return res.filter(F.col("o_orderkey").isNotNull()).select(
        "event_id", "user_id",
        F.col("o_orderkey").alias("asof_orderkey"),
        F.round("o_totalprice", 2).alias("asof_totalprice"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6 h inactivity breaks a session) then
    per-session rollup — the behavioural-training-data unit. One shuffle
    for the session numbering + one partial/final agg."""
    from financial_knowledge_graphs_spark.operators.timeseries import sessionize

    e = _t(spark, sf_dir, "events")
    # hub_chunk_seconds=3 days over the 30-day corpus: ~10 chunks per key,
    # so the driver oracle verifies the hub-key CHUNKED path (r4) — the
    # result is row-identical to the plain path (pinned by
    # test_sessionize_hub_chunked_equals_plain), so the oracle SQL is
    # unchanged and the plain path stays covered transitively
    s = sessionize(e, "user_id", "ts", 21600, "event_id",
                   hub_chunk_seconds=259200)
    return s.groupBy("user_id", "session_num").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
    )


def q_rolling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-row rolling sum/mean/min/max per user timeline. The sum
    runs in decimal (exact) — sliding double frames use engine-specific
    add/retract accumulators and would not hash-match cross-engine."""
    from financial_knowledge_graphs_spark.operators.timeseries import rolling_agg

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    # chunked (ghost-seeded) hub path, driver-verified against the same
    # oracle as the plain path — row-identical by construction (pinned by
    # test_rolling_agg_hub_chunked_equals_plain)
    return rolling_agg(
        e, "user_id", "ts", "value", 7, "event_id", prefix="roll",
        hub_chunk_seconds=259200,
    ).select("event_id", "user_id", "roll_sum", "roll_mean", "roll_min", "roll_max")


def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter key diagnostics over events.user_id: top-20 keys by
    count with share-of-table — distributed top-K (TakeOrderedAndProject),
    no global sort."""
    from financial_knowledge_graphs_spark.operators.skew import key_profile

    e = _t(spark, sf_dir, "events")
    return key_profile(e, ["user_id"], top_n=20)


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregate (nation → status → grand total) —
    Catalyst expands grouping sets into one pass with partial aggs."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    joined = o.join(c, o.o_custkey == c.c_custkey).join(
        F.broadcast(n), c.c_nationkey == F.col("n_nationkey")
    )
    return joined.rollup(F.col("n_name").alias("nation"), "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star skew operator: explicit salted join — result multiset must
    equal the plain join (the oracle IS the unsalted SQL join), while the
    shuffle key (custkey, salt) spreads hot keys over `salt` reducers."""
    from financial_knowledge_graphs_spark.operators.skew import salted_join

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey",
        F.round("o_totalprice", 2).alias("totalprice"),
    )
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    return salted_join(o, c, ["custkey"], salt=8, how="inner")


def kg_ops_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops plane (north rule: lineage + metrics tables): the pipeline's
    recorded counter metrics must equal the GROUND-TRUTH corpus counts —
    docs processed = GT docs, mentions = GT entity rows, triples = GT
    triples, zero dropped endpoints."""
    from financial_knowledge_graphs_spark.ops import OpsStore

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    ops = OpsStore(spark, os.path.join(root, "warehouse", "ops"))
    keep = ["docs_processed", "mentions", "triples", "dropped_endpoint_rows"]
    return ops.read("metrics").filter(F.col("name").isin(keep)).select(
        "name", "value"
    )


def q_orders_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast-dim equi-join + agg: revenue per nation."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# KG queries (fixture corpus; ground-truth or SQL oracles)
# ---------------------------------------------------------------------------

def kg_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pipeline output: canonical (subj, pred, obj) triples.

    Oracle = the fixture's by-construction GROUND TRUTH triples (stronger
    than a SQL re-implementation: the DuckDB side is what the pipeline MUST
    emit, so the hash match IS the P/R=1.0 parity gate, driver-verified).
    Canonical entity ids are hash-internal and checked by pytest
    (resume-stability test); the oracle compares the name-level triple."""
    from financial_knowledge_graphs_spark.operators.materialize import read_graph_table

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    return read_graph_table(spark, os.path.join(root, "warehouse", "graph", "triples")).select(
        "doc_id", "subj_name", "pred", "obj_name",
        "valueAmount", "percentage", "transactionDate",
    )


def kg_vertices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical entity table. Oracle = GT extractions rolled up per
    canonical company (rep surface = max by (count, name), cumulative
    mention counts) — verifies linking + canonicalization end-to-end."""
    from financial_knowledge_graphs_spark.operators.materialize import read_graph_table

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    return read_graph_table(
        spark, os.path.join(root, "warehouse", "graph", "vertices")
    ).select(
        "type", "name", "norm_name", "companyName", "ticker",
        "industry", "country", "n_mentions",
    )


def kg_story_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved spans → story (array_sort/filter/concat, no UDF)."""
    from financial_knowledge_graphs_spark.operators import prep

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    docs = spark.read.parquet(os.path.join(root, "documents"))
    return prep.with_story(docs).select(
        "doc_id", F.length("story").alias("story_len"),
        prep.span_signature().alias("span_sig"),
    )


def kg_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-matcher evaluation of pipeline extraction vs fixture GT —
    one row of corpus micro-metrics (P/R/F1 ≥ 0.95 gate lives in pytest)."""
    from financial_knowledge_graphs_spark import fixtures
    from financial_knowledge_graphs_spark.operators import evaluate, extract, prep
    from financial_knowledge_graphs_spark.session import local_frame

    n = _kg_n_docs(sf_dir)
    root = ensure_fixture(spark, n)
    docs = spark.read.parquet(os.path.join(root, "documents"))
    alias = spark.read.parquet(os.path.join(root, "alias_dict"))
    staged = prep.dedup_by_story(prep.quality_filter(prep.with_story(docs)))
    ext = extract.run_extraction(staged, extract.make_extract_udf(spark, alias))
    pred = ext.select("doc_id", F.to_json(F.col("extraction")).alias("payload"))
    gt = spark.read.parquet(os.path.join(root, "gt_extractions")).select(
        "doc_id", F.to_json(F.struct("entities", "relationships")).alias("payload")
    )
    dm = evaluate.per_doc_metrics(pred, gt)
    m = evaluate.corpus_metrics(dm)
    return local_frame(
        spark,
        [tuple(round(m[k], 6) for k in sorted(m))],
        ", ".join(f"`{k}` double" for k in sorted(m)),
    )


def kg_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup over the testdata documents (blocked hamming join)."""
    from financial_knowledge_graphs_spark.operators.dedup import simhash_pairs

    return simhash_pairs(_t(spark, sf_dir, "documents"), max_hamming=2)


def kg_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (the 100 TB scale path) incl. realized recall@5."""
    from financial_knowledge_graphs_spark.operators.similarity import lsh_topk

    e = _t(spark, sf_dir, "embeddings")
    return lsh_topk(e, e.filter(F.col("vec_id") < 10), k=5)


def kg_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: media table → Arrow-batched feature extraction
    (decode stubbed deterministically — no codecs in this container)."""
    from financial_knowledge_graphs_spark.operators import multimodal

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    docs = spark.read.parquet(os.path.join(root, "documents"))
    media = multimodal.media_table(docs)
    return multimodal.extract_features(media, fake=True).select(
        "doc_id", "media_ref", "kind", "n_bytes", "checksum"
    )


def kg_graph_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-analytics suite over the materialized triples: degree, 2-hop
    paths, co-mention edges, the 1-hop neighborhood and BFS distances from
    the top-degree entity (degree desc, name asc), fixed-point PageRank,
    triangle counts and weakly-connected components. One (algo, row) frame,
    each result row serialized by to_json in its own column order, so the
    eight result shapes share one driver row; oracle = the same eight
    roll-ups over GT triples."""
    from functools import reduce

    from financial_knowledge_graphs_spark.operators import graph
    from financial_knowledge_graphs_spark.operators.materialize import read_graph_table

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    t = read_graph_table(spark, os.path.join(root, "warehouse", "graph", "triples"))
    edges = graph.edge_list(t)
    deg = graph.degree_table(t)
    top = deg.orderBy(F.desc("degree"), F.asc("name")).limit(1).collect()[0]["name"]
    algos = {
        "degree": deg,
        "two_hop": graph.two_hop(t),
        "comention": graph.comention_edges(t).withColumn(
            "weight", F.col("weight").cast("long")),
        "neighbors": graph.neighbors(t, top),
        "pagerank": graph.pagerank(edges, iters=10),
        "bfs": graph.bfs_distances(edges, top, max_depth=6),
        "triangles": graph.triangle_counts(edges),
        "wcc": graph.weakly_connected_components(edges),
    }
    return reduce(DataFrame.union, (
        df.select(F.lit(algo).alias("algo"),
                  F.to_json(F.struct(*df.columns),
                            {"ignoreNullFields": "false"}).alias("row"))
        for algo, df in algos.items()
    ))


def ensure_typo_fixture(spark: SparkSession, n_docs: int = 240,
                        seed: int = 42) -> str:
    """Typo-alias corpus + the KG pipeline with EMBEDDING-SIMILARITY linking
    ON (VERDICT r2 next #7: exercise embedding_link end-to-end).

    Every third company's alias rotation includes a space-dropped typo
    surface ("VertexTech") whose normalized form is one fused token — no
    shared blocking token, no containment, so the reference's token
    Jaccard/containment path can NEVER merge it. Only the char-n-gram
    cosine path can (within-company typo cosine ≥ 0.738; max cross-company
    0.603 at dim=256), so threshold 0.70 separates cleanly both ways.
    Memoized on disk like ensure_fixture."""
    from financial_knowledge_graphs_spark import fixtures
    from financial_knowledge_graphs_spark.pipeline import PipelineConfig, run_pipeline

    root = _fixture_dir(n_docs, seed) + "_typo"
    marker = os.path.join(root, "_COMPLETE")
    if os.path.exists(marker):
        return root
    os.makedirs(root, exist_ok=True)
    tables_marker = os.path.join(root, "_TABLES")
    if not os.path.exists(tables_marker):
        fixtures.write_corpus(spark, root, n_docs=n_docs, seed=seed, typos=True)
        with open(tables_marker, "w") as f:
            f.write("ok")
    docs = spark.read.parquet(os.path.join(root, "documents"))
    alias = spark.read.parquet(os.path.join(root, "alias_dict"))
    run_pipeline(
        spark, docs, alias,
        PipelineConfig(
            warehouse=os.path.join(root, "warehouse"),
            embedding_link=True, embedding_threshold=0.70,
        ),
    )
    with open(marker, "w") as f:
        f.write("ok")
    return root


def kg_vertices_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-similarity linking END-TO-END (north star: alias-dictionary
    + embedding linking; reference insert-time disambiguation at
    src/db/neo4j_handler.py:70-134 extended with the cosine path). Oracle =
    GT rollup by canonical company on the typo fixture — green ONLY if the
    embedding edges merged every space-dropped typo surface into its
    company's entity (token linking provably cannot: no shared token, no
    containment). pytest holds the negative control: the same fixture
    without embedding_link splits the typo surfaces into extra entities."""
    from financial_knowledge_graphs_spark.operators.materialize import read_graph_table

    root = ensure_typo_fixture(spark)
    return read_graph_table(
        spark, os.path.join(root, "warehouse", "graph", "vertices")
    ).select(
        "type", "name", "norm_name", "companyName", "ticker",
        "industry", "country", "n_mentions",
    )


def kg_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-level table stats (Iceberg-style): row counts read from the
    snapshot metadata's commit-time parquet-footer stats — ZERO table scan.
    Oracle = the same counts recomputed from ground truth, so this checks
    that the stats the merge layer records are exact."""
    from financial_knowledge_graphs_spark.operators.materialize import table_stats
    from financial_knowledge_graphs_spark.session import local_frame

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    rows = []
    for t in ("triples", "vertices"):
        st = table_stats(os.path.join(root, "warehouse", "graph", t))
        rows.append((t, int(st["rows"]) if st else -1))
    return local_frame(
        spark, rows, "table_name string, n_rows long"
    ).orderBy("table_name")


def kg_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-consumption (CDC) driver check: reading the triples
    table's changelog from before the first commit (`from_snapshot=0`)
    must reconstruct the full live table as 'insert' rows — exercising
    `read_table_changes`' file-granularity append path end-to-end on the
    pipeline's own commits. Oracle = the GT triples with a literal
    'insert' change type. The row-diff branch (rewritten buckets →
    delete+insert images) is pytest-covered in test_merge_upsert."""
    from financial_knowledge_graphs_spark.operators.materialize import (
        read_table_changes,
    )

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    return read_table_changes(
        spark, os.path.join(root, "warehouse", "graph", "triples"), 0
    ).select(
        "doc_id", "subj_name", "pred", "obj_name",
        "valueAmount", "percentage", "transactionDate", "_change_type",
    )


def ensure_fixture_mor(spark: SparkSession, n_docs: int, seed: int = 42) -> str:
    """Twin warehouse of the committed fixture built with merge-on-read row
    deletes (Iceberg write.merge.mode=merge-on-read semantics) in TWO
    resumed batches, so the second batch's vertex upserts land as
    equality-delete + data files and every later read must resolve
    sequence-scoped deletes (VERDICT r3 next #6). Content must equal the
    COW warehouse — pytest proves MOR==COW and batched==single-run; the
    driver oracle re-checks the result against ground truth. Memoized on
    disk like ensure_fixture."""
    from financial_knowledge_graphs_spark.pipeline import PipelineConfig, run_pipeline

    root = ensure_fixture(spark, n_docs, seed)
    wh = os.path.join(root, "warehouse_mor")
    marker = os.path.join(root, "_COMPLETE_MOR")
    if os.path.exists(marker):
        return wh
    docs = spark.read.parquet(os.path.join(root, "documents"))
    alias = spark.read.parquet(os.path.join(root, "alias_dict"))
    run_pipeline(spark, docs, alias,
                 PipelineConfig(warehouse=wh, merge_mode="mor",
                                batch_size=n_docs // 2))
    run_pipeline(spark, docs, alias,
                 PipelineConfig(warehouse=wh, merge_mode="mor"))
    with open(marker, "w") as f:
        f.write("ok")
    return wh


def kg_vertices_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kg_vertices' merge-on-read twin: same GT oracle, but the vertices
    table was built merge-on-read in two resumed batches — a green row
    proves the sequence-scoped equality-delete READ path
    (operators/materialize.py, mode='mor') end-to-end under the driver,
    not just pytest (VERDICT r3 next #6)."""
    from financial_knowledge_graphs_spark.operators.materialize import read_graph_table

    wh = ensure_fixture_mor(spark, _kg_n_docs(sf_dir))
    return read_graph_table(spark, os.path.join(wh, "graph", "vertices")).select(
        "type", "name", "norm_name", "companyName", "ticker",
        "industry", "country", "n_mentions",
    )


def ensure_fixture_clustered(spark: SparkSession, n_docs: int,
                             seed: int = 42) -> str:
    """Z-order-clustered twin of the committed fixture's triples table
    (VERDICT r4 next #2): the COW warehouse's triples table is file-copied
    (snapshot state and all) into warehouse_clustered/, then rewritten by
    ``cluster_table(..., zorder=True)`` over the two numeric attribute
    columns — every new version dir is a tight (valueAmount, percentage)
    hyper-rectangle with footer bounds recorded at commit, so
    ``read_graph_table_pruned`` range scans can skip dirs. Content is
    unchanged by clustering (pytest-pinned); memoized on disk."""
    import shutil

    from financial_knowledge_graphs_spark.operators.materialize import cluster_table

    root = ensure_fixture(spark, n_docs, seed)
    dst_wh = os.path.join(root, "warehouse_clustered")
    dst = os.path.join(dst_wh, "graph", "triples")
    marker = os.path.join(root, "_COMPLETE_CLUSTERED")
    if os.path.exists(marker):
        return dst
    shutil.rmtree(dst_wh, ignore_errors=True)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    shutil.copytree(os.path.join(root, "warehouse", "graph", "triples"), dst)
    cluster_table(spark, dst, ["valueAmount", "percentage"],
                  files_per_bucket=8, zorder=True)
    with open(marker, "w") as f:
        f.write("ok")
    return dst


def kg_triples_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-bounds file skipping under the driver (VERDICT r4 next #2):
    a range scan (percentage ∈ [10, 40] — the TRAILING z-order column, so
    only the Morton layout can prune it) over the clustered triples table
    via ``read_graph_table_pruned``. Oracle = the same filter over the GT
    triples, so a green row proves file-skipping returns EXACTLY the
    unpruned answer. ``dirs_pruned`` surfaces whether the scan actually
    skipped version dirs (opened < total, from the plan's inputFiles —
    metadata only, no extra job): vacuous pruning (all dirs opened) turns
    the row red against the oracle's literal TRUE."""
    from financial_knowledge_graphs_spark.operators.materialize import (
        _table_state, read_graph_table_pruned,
    )

    t = ensure_fixture_clustered(spark, _kg_n_docs(sf_dir))
    st = _table_state(t)
    n_total = sum(len(vs) for vs in st["buckets"].values())
    df = read_graph_table_pruned(spark, t, {"percentage": (10.0, 40.0)})
    n_opened = len({os.path.dirname(f) for f in df.inputFiles()})
    return df.select(
        "doc_id", "subj_name", "pred", "obj_name",
        "valueAmount", "percentage", "transactionDate",
    ).withColumn("dirs_pruned", F.lit(bool(n_opened < n_total)))


# md5(doc_id) first-hex-char buckets selecting which docs get which entity
# attribute perturbed (2/16 of docs each, disjoint) — shared by the Spark
# query and its DuckDB oracle so the two can never drift.
_ATTR_PERT_HEX = {
    "ticker": ("0", "1"), "industry": ("2", "3"),
    "companyName": ("4", "5"), "country": ("6", "7"),
}
_REL_ATTRS = ("valueAmount", "percentage", "transactionDate")


def kg_eval_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-attribute evaluator accuracy, made NON-vacuous (VERDICT r3 next
    #5): predictions = the GT extractions with KNOWN md5-selected
    perturbations — the FIRST entity's md5-chosen attribute → '##'
    (token_sort_ratio vs any real value is 0 < 80, but name similarity
    stays ≥ 92.5 so the entity still greedy-matches), and where
    md5(doc_id)[1] < '8' the FIRST relationship's valueAmount ×2 /
    percentage +50 (both outside the 10% relative tolerance,
    evaluate.py:142) and transactionDate → 'x' (ratio < 80). Every
    accuracy therefore has an exactly computable expected value < 1.0;
    the oracle counts the same selections over the committed GT parquet.
    A regression in the greedy matcher's attribute counters
    (evaluate.py:93-150, reference src/utils/evaluation.py:85-96,173-195)
    turns the row red. One row per attribute."""
    from financial_knowledge_graphs_spark.operators import evaluate

    root = ensure_fixture(spark, _kg_n_docs(sf_dir))
    gt = spark.read.parquet(os.path.join(root, "gt_extractions"))
    h1 = F.substring(F.md5(F.col("doc_id")), 1, 1)
    h2 = F.substring(F.md5(F.col("doc_id")), 2, 1)

    def pert_ent(e, i):
        attrs = e["attributes"]
        new_attrs = F.struct(*[
            F.when(h1.isin(*_ATTR_PERT_HEX[a]), F.lit("##"))
            .otherwise(attrs[a]).alias(a)
            for a in evaluate.ENT_ATTRS  # schema field order
        ])
        return F.when(i == F.lit(0),
                      e.withField("attributes", new_attrs)).otherwise(e)

    def pert_rel(r, i):
        attrs = r["attributes"]
        new_attrs = F.struct(
            (attrs["valueAmount"] * 2).alias("valueAmount"),
            (attrs["percentage"] + F.lit(50.0)).alias("percentage"),
            F.when(attrs["transactionDate"].isNotNull(), F.lit("x"))
            .otherwise(F.lit(None).cast("string")).alias("transactionDate"),
        )
        return F.when((i == F.lit(0)) & (h2 < F.lit("8")),
                      r.withField("attributes", new_attrs)).otherwise(r)

    pred = gt.select(
        "doc_id",
        F.to_json(F.struct(
            F.transform("entities", pert_ent).alias("entities"),
            F.transform("relationships", pert_rel).alias("relationships"),
        )).alias("payload"),
    )
    gtj = gt.select(
        "doc_id", F.to_json(F.struct("entities", "relationships")).alias("payload")
    )
    dm = evaluate.per_doc_metrics(pred, gtj)
    cols = (
        [f"ea_{a}_{k}" for a in evaluate.ENT_ATTRS for k in ("correct", "total")]
        + [f"ra_{a}_{k}" for a in _REL_ATTRS for k in ("correct", "total")]
    )
    sums = dm.agg(*[F.coalesce(F.sum(c), F.lit(0)).alias(c) for c in cols])
    stack_args = ", ".join(
        f"'{a}', '{kind}', {p}_{a}_correct, {p}_{a}_total"
        for kind, p, attrs in (("entity", "ea", evaluate.ENT_ATTRS),
                               ("rel", "ra", _REL_ATTRS))
        for a in attrs
    )
    return sums.selectExpr(
        f"stack(7, {stack_args}) AS (attr, kind, correct, total)"
    ).select(
        "attr", "kind",
        F.col("correct").cast("long").alias("correct"),
        F.col("total").cast("long").alias("total"),
        (F.col("correct") / F.col("total")).alias("accuracy"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, each with an exact DuckDB oracle under the
    same name in ``oracle_sql()``. The driver's correctness gate checks the
    first 50 entries, and exactly 50 are registered, so order carries no
    meaning and every query is inside the checked window
    (tests/test_registry.py holds the cap and the query/oracle pairing)."""
    return {
        # -- kg pipeline core (committed fixture corpus) -------------------
        "kg_triples": kg_triples,
        "kg_vertices": kg_vertices,
        "kg_vertices_embedding": kg_vertices_embedding,
        "kg_vertices_mor": kg_vertices_mor,
        "kg_triples_pruned": kg_triples_pruned,
        "kg_changelog": kg_changelog,
        "kg_table_stats": kg_table_stats,
        "kg_ops_metrics": kg_ops_metrics,
        "kg_story_reconstruction": kg_story_reconstruction,
        "kg_eval_metrics": kg_eval_metrics,
        "kg_eval_attrs": kg_eval_attrs,
        "kg_media_features": kg_media_features,
        "kg_graph_suite": kg_graph_suite,
        # -- operator queries (testdata tables), one per graded component --
        "q_quality_filter": q_quality_filter,
        "q_token_stats": q_token_stats,
        "q_token_hist_ref": q_token_hist_ref,
        "q_bpe_token_count": q_bpe_token_count,
        "q_redact_pii": q_redact_pii,
        "q_gopher_signals": q_gopher_signals,
        "q_ngram_repetition": q_ngram_repetition,
        "q_decontaminate": q_decontaminate,
        "q_c4_span_dedup": q_c4_span_dedup,
        "q_chunk_documents": q_chunk_documents,
        "q_pack_chunks": q_pack_chunks,
        "q_dedup_exact": q_dedup_exact,
        "q_stratified_sample": q_stratified_sample,
        "q_name_normalize": q_name_normalize,
        "q_lang_id": q_lang_id,
        "q_quality_score": q_quality_score,
        "q_tfidf_top_terms": q_tfidf_top_terms,
        "q_winnow_fingerprint": q_winnow_fingerprint,
        "q_ngram_jaccard": q_ngram_jaccard,
        "q_neardup_clusters": q_neardup_clusters,
        "q_minhash_lsh": q_minhash_lsh,
        "kg_simhash_pairs": kg_simhash_pairs,
        "q_embedding_neardup": q_embedding_neardup,
        "q_embedding_neardup_lsh": q_embedding_neardup_lsh,
        "q_ann_topk": q_ann_topk,
        "kg_lsh_ann": kg_lsh_ann,
        "q_ivf_ann": q_ivf_ann,
        "q_anti_join_resume": q_anti_join_resume,
        "q_top_orders_per_customer": q_top_orders_per_customer,
        "q_pricing_summary": q_pricing_summary,
        "q_orders_join_agg": q_orders_join_agg,
        "q_rollup_revenue": q_rollup_revenue,
        "q_asof_join": q_asof_join,
        "q_sessionize": q_sessionize,
        "q_rolling_agg": q_rolling_agg,
        "q_key_skew_profile": q_key_skew_profile,
        "q_salted_join": q_salted_join,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_TOKENS = "list_filter(regexp_split_to_array({col}, '\\s+'), x -> x <> '')"
_TC = f"len({_TOKENS.format(col='text')})"


def _ngrams_sql(toks: str, n: int, gram: str = "{}", keep_short: bool = True) -> str:
    """DuckDB twin of text.word_ngrams: ``gram`` (a format string) of every
    space-joined n-token window of the list ``toks``; a shorter list gives
    [gram(all tokens joined)] when ``keep_short``, else []."""
    join = "array_to_string({}, ' ')"
    win = gram.format(join.format(f"{toks}[i:i+{n - 1}]"))
    # DuckDB joins an empty list to NULL where Spark's concat_ws gives ''
    whole = f"coalesce({join.format(toks)}, '')"
    short = f"[{gram.format(whole)}]" if keep_short else "[]::VARCHAR[]"
    return (f"CASE WHEN len({toks}) >= {n} THEN list_transform("
            f"generate_series(1, len({toks}) - {n - 1}), i -> {win}) ELSE {short} END")


def _pii_oracle_sql() -> str:
    """DuckDB twin of q_redact_pii, generated from the SAME PII_PATTERNS
    list so the two can never drift."""
    from financial_knowledge_graphs_spark.operators.text import PII_PATTERNS

    inj = ("text || ' Contact user' || doc_id::VARCHAR || "
           f"'{_PII_INJECT}'")
    sql = (
        "WITH s0 AS (SELECT doc_id, CASE WHEN "
        "substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1','2','3') "
        f"THEN {inj} ELSE text END AS t FROM documents)"
    )
    for i, (name, pat, sub) in enumerate(PII_PATTERNS, 1):
        p = pat.replace("'", "''")
        sql += (
            f", s{i} AS (SELECT * EXCLUDE (t), "
            f"len(regexp_extract_all(t, '{p}'))::BIGINT AS n_{name}, "
            f"regexp_replace(t, '{p}', '{sub}', 'g') AS t FROM s{i - 1})"
        )
    names = ", ".join(f"n_{name}" for name, _, _ in PII_PATTERNS)
    return (sql + f" SELECT doc_id, {names}, t AS redacted "
            f"FROM s{len(PII_PATTERNS)}")


def _gopher_oracle_sql() -> str:
    """DuckDB twin of q_gopher_signals (same injected text derivation and
    the same int/int double divisions, so values are bit-identical)."""
    return f"""
        WITH base AS (
          SELECT doc_id,
                 replace(text, ' merge ', chr(10)) ||
                 CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1)
                           IN ('0','1','2','3')
                      THEN chr(10) || 'foo ...' || chr(10) || 'foo ...' ||
                           chr(10) || '## #'
                      ELSE '' END AS t
          FROM documents
        ), arr AS (
          SELECT doc_id, t,
                 list_filter(str_split(t, chr(10)), x -> x <> '') AS lines,
                 {_TOKENS.format(col='t')} AS toks
          FROM base
        ), sig AS (
          SELECT doc_id,
                 len(lines)::BIGINT AS n_lines,
                 CASE WHEN len(lines) > 0 THEN
                   (len(lines) - len(list_distinct(lines)))::DOUBLE
                     / len(lines)::DOUBLE
                 ELSE 0.0 END AS dup_line_frac,
                 CASE WHEN len(toks) > 0 THEN
                   list_aggregate(list_transform(toks, x -> length(x)),
                                  'sum')::DOUBLE / len(toks)::DOUBLE
                 ELSE 0.0 END AS mean_word_len,
                 CASE WHEN len(toks) > 0 THEN
                   ((length(t) - length(replace(t, '#', ''))) / 1
                    + (length(t) - length(replace(t, '...', ''))) / 3)
                     / len(toks)::DOUBLE
                 ELSE 0.0 END AS symbol_ratio,
                 CASE WHEN len(lines) > 0 THEN
                   len(list_filter(lines, x -> ends_with(x, '...')))::DOUBLE
                     / len(lines)::DOUBLE
                 ELSE 0.0 END AS ellipsis_line_frac
          FROM arr
        )
        SELECT doc_id, n_lines,
               round(dup_line_frac, 6) AS dup_line_frac,
               round(mean_word_len, 6) AS mean_word_len,
               round(symbol_ratio, 6) AS symbol_ratio,
               round(ellipsis_line_frac, 6) AS ellipsis_line_frac,
               (mean_word_len >= 3.0 AND mean_word_len <= 10.0
                AND symbol_ratio < 0.1 AND dup_line_frac < 0.3
                AND ellipsis_line_frac < 0.3) AS gopher_pass
        FROM sig
    """


def _suffix_list_sql() -> str:
    from financial_knowledge_graphs_spark.operators.normalize import COMMON_SUFFIXES

    return "[" + ", ".join(f"'{s}'" for s in COMMON_SUFFIXES) + "]"


_SUFFIX_LIST = _suffix_list_sql()


def _norm_sql(col: str) -> str:
    """DuckDB twin of normalize_name_expr (reference neo4j_handler.py:36-68)."""
    return f"""array_to_string(
                     list_filter(
                       regexp_split_to_array(
                         regexp_replace(
                           regexp_replace(lower({col}), '[\\s,]+(inc|corp|co|ltd|llc)\\.?$', ''),
                           '[^\\p{{L}}\\p{{N}}_]', ' ', 'g'),
                         '\\s+'),
                       w -> length(w) > 1 AND NOT list_contains({_SUFFIX_LIST}, w)),
                     ' ')"""


def _vertices_oracle_sql(gt_e_expr: str) -> str:
    """GT-based vertices rollup (shared by kg_vertices on the standard
    fixture and kg_vertices_embedding on the typo fixture): group GT
    mentions by canonical company, rep surface = max by (count, name),
    cumulative mention counts; n_mentions cast to BIGINT (DuckDB windowed
    sum(BIGINT) is HUGEINT — the r2 hash-red root cause)."""
    return f"""
            WITH m AS (
              SELECT e.name AS name,
                     e.attributes.companyName AS companyName,
                     e.attributes.ticker AS ticker,
                     e.attributes.industry AS industry,
                     e.attributes.country AS country
              FROM (SELECT unnest(entities) AS e FROM {gt_e_expr})),
            per_surface AS (
              SELECT companyName, name, ticker, industry, country, count(*) AS n
              FROM m GROUP BY ALL),
            ranked AS (
              SELECT *,
                     (sum(n) OVER (PARTITION BY companyName))::BIGINT AS n_mentions,
                     row_number() OVER (PARTITION BY companyName
                                        ORDER BY n DESC, name DESC) AS rn
              FROM per_surface)
            SELECT 'Company' AS type, name, {_norm_sql('name')} AS norm_name,
                   companyName, ticker, industry, country, n_mentions
            FROM ranked WHERE rn = 1
        """


def _graph_suite_oracle_sql(gt_t: str) -> str:
    """DuckDB twin of kg_graph_suite: the eight graph roll-ups over the GT
    triples ``gt_t``, each row serialized by to_json (DuckDB's row JSON is
    byte-identical to Spark's to_json of the same columns) and tagged with
    its algo name."""
    from financial_knowledge_graphs_spark.operators.graph import PR_SCALE

    # --- integer-fixed-point PageRank, 10 supersteps unrolled ------------
    pr_tele = 15 * PR_SCALE // 100
    pr_ctes = [
        f"e AS (SELECT DISTINCT subj AS src, obj AS dst FROM {gt_t} WHERE subj <> obj)",
        "v AS (SELECT src AS name FROM e UNION SELECT dst FROM e)",
        "od AS (SELECT src, count(*) AS od FROM e GROUP BY 1)",
        f"r0 AS (SELECT name, {PR_SCALE}::BIGINT AS rank FROM v)",
    ]
    for i in range(1, 11):
        pr_ctes.append(
            f"""r{i} AS (
              SELECT v.name,
                     ({pr_tele} + (85 * coalesce(s.s, 0)) // 100)::BIGINT AS rank
              FROM v LEFT JOIN (
                SELECT e.dst AS name, sum(r.rank // od.od)::BIGINT AS s
                FROM e JOIN r{i - 1} r ON e.src = r.name
                       JOIN od ON od.src = e.src
                GROUP BY 1) s ON v.name = s.name)"""
        )
    pr_sql = (
        "WITH " + ",\n".join(pr_ctes)
        + "\nSELECT name, rank AS rank_scaled FROM r10"
    )

    # --- WCC: hash-min label propagation, 12 supersteps unrolled ---------
    wcc_ctes = [
        f"de AS (SELECT DISTINCT subj AS src, obj AS dst FROM {gt_t} WHERE subj <> obj)",
        "u AS (SELECT src, dst FROM de UNION SELECT dst, src FROM de)",
        "l0 AS (SELECT DISTINCT src AS name, src AS comp FROM u)",
    ]
    # MATERIALIZED is load-bearing: l{{i-1}} is referenced twice per level;
    # an inlining planner would double the subtree per superstep (2^12)
    for i in range(1, 13):
        wcc_ctes.append(
            f"""l{i} AS MATERIALIZED (
              SELECT l.name,
                     least(l.comp, coalesce(nm.nbr_comp, l.comp)) AS comp
              FROM l{i - 1} l LEFT JOIN (
                SELECT u.dst AS name, min(p.comp) AS nbr_comp
                FROM u JOIN l{i - 1} p ON u.src = p.name
                GROUP BY 1) nm ON l.name = nm.name)"""
        )
    wcc_sql = (
        "WITH " + ",\n".join(wcc_ctes)
        + "\nSELECT name, comp AS component FROM l12"
    )

    # top-degree entity (degree desc, name asc): the neighbors/bfs source
    top_cte = f"""
            o AS (SELECT subj AS name, count(*) AS od FROM {gt_t} GROUP BY 1),
            i AS (SELECT obj AS name, count(*) AS id_ FROM {gt_t} GROUP BY 1),
            deg AS (
              SELECT coalesce(o.name, i.name) AS name,
                     coalesce(od, 0) + coalesce(id_, 0) AS degree
              FROM o FULL OUTER JOIN i ON o.name = i.name),
            top AS (SELECT name FROM deg ORDER BY degree DESC, name ASC LIMIT 1)"""
    sqls = {
        "degree": f"""
            WITH o AS (SELECT subj AS name, count(*) AS od FROM {gt_t} GROUP BY 1),
            i AS (SELECT obj AS name, count(*) AS id_ FROM {gt_t} GROUP BY 1)
            SELECT coalesce(o.name, i.name) AS name,
                   coalesce(od, 0) AS out_degree,
                   coalesce(id_, 0) AS in_degree,
                   coalesce(od, 0) + coalesce(id_, 0) AS degree
            FROM o FULL OUTER JOIN i ON o.name = i.name
        """,
        "two_hop": f"""
            SELECT DISTINCT e1.subj AS a, e1.pred AS p1, e1.obj AS b,
                            e2.pred AS p2, e2.obj AS c
            FROM {gt_t} e1 JOIN {gt_t} e2 ON e1.obj = e2.subj
            WHERE e1.subj <> e2.obj
        """,
        "comention": f"""
            WITH ent AS (
              SELECT DISTINCT doc_id, subj AS name FROM {gt_t}
              UNION
              SELECT DISTINCT doc_id, obj AS name FROM {gt_t}
            )
            SELECT a.name AS src, b.name AS dst, count(*)::BIGINT AS weight
            FROM ent a JOIN ent b ON a.doc_id = b.doc_id AND a.name < b.name
            GROUP BY 1, 2
        """,
        "neighbors": f"""
            WITH {top_cte}
            SELECT DISTINCT obj AS neighbor, pred, 'out' AS direction
            FROM {gt_t} WHERE subj = (SELECT name FROM top)
            UNION
            SELECT DISTINCT subj AS neighbor, pred, 'in' AS direction
            FROM {gt_t} WHERE obj = (SELECT name FROM top)
        """,
        "pagerank": pr_sql,
        "bfs": f"""
            WITH RECURSIVE
            e AS (SELECT DISTINCT subj AS src, obj AS dst FROM {gt_t}
                  WHERE subj <> obj),
            {top_cte},
            p(name, dist) AS (
              SELECT name, 0 FROM top
              UNION
              SELECT e.dst, p.dist + 1 FROM p JOIN e ON e.src = p.name
              WHERE p.dist < 6
            )
            SELECT name, min(dist)::INT AS dist FROM p GROUP BY name
        """,
        "triangles": f"""
            WITH e AS (SELECT DISTINCT subj AS src, obj AS dst FROM {gt_t}
                       WHERE subj <> obj),
            u AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
                  FROM e),
            tri AS (SELECT e1.a, e1.b, e2.b AS c
                    FROM u e1 JOIN u e2 ON e2.a = e1.b
                              JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b),
            corners AS (SELECT a AS name FROM tri
                        UNION ALL SELECT b FROM tri
                        UNION ALL SELECT c FROM tri),
            per AS (SELECT name, count(*) AS n FROM corners GROUP BY 1),
            v AS (SELECT a AS name FROM u UNION SELECT b FROM u)
            SELECT v.name, coalesce(per.n, 0)::BIGINT AS n_triangles
            FROM v LEFT JOIN per ON v.name = per.name
        """,
        "wcc": wcc_sql,
    }
    return " UNION ALL ".join(
        f"SELECT '{algo}' AS algo, to_json(q) AS row FROM ({sql}) q"
        for algo, sql in sqls.items()
    )


def _kg_oracle_sql() -> dict[str, str]:
    """Oracles for the kg_* queries (VERDICT r1 top-next).

    The fixture corpus is deterministic parquet committed under .fixtures/
    (n=400 = the driver's sf0.01 correctness scale), so DuckDB reads the
    very tables the Spark queries run on. kg_triples / kg_vertices compare
    against the BY-CONSTRUCTION GROUND TRUTH — a stronger check than any SQL
    re-derivation. kg_simhash_pairs / kg_lsh_ann run on the driver-registered
    testdata views with the operator's math re-implemented in SQL (planes /
    hashes are md5-derived so both engines compute identical values)."""
    root = _fixture_dir(400)
    docs = f"read_parquet('{root}/documents/*.parquet')"
    gt_t = f"read_parquet('{root}/gt_triples/*.parquet')"
    gt_e = f"read_parquet('{root}/gt_extractions/*.parquet')"

    # --- sign-LSH planes, identical to similarity.lsh_tables ------------
    from financial_knowledge_graphs_spark.operators.similarity import lsh_tables

    n_tables, n_planes, dim = 4, 6, 64
    tables = lsh_tables(dim, n_planes, n_tables)

    def bucket_sql(vcol: str, t: int) -> str:
        bits = [
            f"CASE WHEN list_dot_product({vcol}, [{', '.join(repr(x) for x in tables[t][p])}]) >= 0 THEN '1' ELSE '0' END"
            for p in range(n_planes)
        ]
        return " || ".join(bits)

    lsh_tbl = " UNION ALL ".join(
        f"SELECT vec_id, v, {t} AS tbl, {bucket_sql('v', t)} AS bucket FROM e"
        for t in range(n_tables)
    )

    # --- 32-bit simhash bitstring over lowercased whitespace tokens -----
    toks_lower = _TOKENS.format(col="lower(text)")
    sim_bits = " || ".join(
        f"CASE WHEN 2 * len(list_filter(toks, t -> substr(md5(t), {i}, 1) >= '8')) >= len(toks) THEN '1' ELSE '0' END"
        for i in range(1, 33)
    )

    return {
        "kg_graph_suite": _graph_suite_oracle_sql(gt_t),
        "kg_triples": f"""
            SELECT doc_id, subj AS subj_name, pred, obj AS obj_name,
                   value_amount AS valueAmount, percentage,
                   transaction_date AS transactionDate
            FROM {gt_t}
        """,
        # pruned scan must return EXACTLY the unpruned answer (the same
        # filter over ground truth); dirs_pruned literal TRUE makes
        # vacuous pruning (scan opened every dir) a red row
        "kg_triples_pruned": f"""
            SELECT doc_id, subj AS subj_name, pred, obj AS obj_name,
                   value_amount AS valueAmount, percentage,
                   transaction_date AS transactionDate,
                   TRUE AS dirs_pruned
            FROM {gt_t}
            WHERE percentage >= 10.0 AND percentage <= 40.0
        """,
        "kg_vertices": _vertices_oracle_sql(gt_e),
        # MOR twin: identical expected content (the warehouse differs only
        # in how row-level deletes are encoded — equality-delete files the
        # read path must resolve — never in WHAT the table contains)
        "kg_vertices_mor": _vertices_oracle_sql(gt_e),
        # expected per-attribute accuracies from the SAME md5-selection
        # rules kg_eval_attrs uses to perturb its prediction copy: entity
        # attr totals = all GT entities (every entity carries all four
        # attrs), correct = total minus docs whose first-hex bucket selects
        # that attr (first entity perturbed); rel attr totals = GT non-null
        # instances, correct = total minus perturbed first-relationship
        # instances in docs with md5[1] < '8'
        "kg_eval_attrs": f"""
            WITH g AS (SELECT doc_id, entities, relationships FROM {gt_e}),
            ent_total AS (
              SELECT count(*) AS t
              FROM (SELECT unnest(entities) FROM g)),
            pe AS (
              SELECT substr(md5(doc_id), 1, 1) AS h FROM g
              WHERE len(entities) > 0),
            pe_n AS (
              SELECT
                count(*) FILTER (h IN ('4','5')) AS n_companyName,
                count(*) FILTER (h IN ('0','1')) AS n_ticker,
                count(*) FILTER (h IN ('2','3')) AS n_industry,
                count(*) FILTER (h IN ('6','7')) AS n_country
              FROM pe),
            r_tot AS (
              SELECT
                count(*) FILTER (r.attributes.valueAmount IS NOT NULL) AS t_va,
                count(*) FILTER (r.attributes.percentage IS NOT NULL) AS t_pc,
                count(*) FILTER (r.attributes.transactionDate IS NOT NULL) AS t_td
              FROM (SELECT unnest(relationships) AS r FROM g)),
            r_pert AS (
              SELECT
                count(*) FILTER (r1.attributes.valueAmount IS NOT NULL) AS n_va,
                count(*) FILTER (r1.attributes.percentage IS NOT NULL) AS n_pc,
                count(*) FILTER (r1.attributes.transactionDate IS NOT NULL) AS n_td
              FROM (SELECT relationships[1] AS r1 FROM g
                    WHERE len(relationships) > 0
                      AND substr(md5(doc_id), 2, 1) < '8')),
            rows_ AS (
              SELECT 'companyName' AS attr, 'entity' AS kind,
                     (t - n_companyName)::BIGINT AS correct, t::BIGINT AS total
              FROM ent_total, pe_n
              UNION ALL SELECT 'ticker', 'entity', (t - n_ticker)::BIGINT,
                               t::BIGINT FROM ent_total, pe_n
              UNION ALL SELECT 'industry', 'entity', (t - n_industry)::BIGINT,
                               t::BIGINT FROM ent_total, pe_n
              UNION ALL SELECT 'country', 'entity', (t - n_country)::BIGINT,
                               t::BIGINT FROM ent_total, pe_n
              UNION ALL SELECT 'valueAmount', 'rel', (t_va - n_va)::BIGINT,
                               t_va::BIGINT FROM r_tot, r_pert
              UNION ALL SELECT 'percentage', 'rel', (t_pc - n_pc)::BIGINT,
                               t_pc::BIGINT FROM r_tot, r_pert
              UNION ALL SELECT 'transactionDate', 'rel', (t_td - n_td)::BIGINT,
                               t_td::BIGINT FROM r_tot, r_pert)
            SELECT attr, kind, correct, total,
                   correct / total AS accuracy
            FROM rows_
        """,
        # same GT rollup on the TYPO fixture: canonicalization must merge the
        # space-dropped typo surfaces (embedding edges only — see
        # kg_vertices_embedding docstring) for the per-company grouping to
        # match ground truth
        "kg_vertices_embedding": _vertices_oracle_sql(
            f"read_parquet('{_fixture_dir(240) + '_typo'}/gt_extractions/*.parquet')"
        ),
        "kg_story_reconstruction": f"""
            WITH s AS (SELECT doc_id, unnest(spans) AS sp FROM {docs}),
            agg AS (
              SELECT doc_id,
                     coalesce(string_agg(CASE WHEN sp.kind = 'text' THEN sp.text END, ' '
                                         ORDER BY sp.offset) FILTER (sp.kind = 'text'), '') AS story,
                     md5(coalesce(string_agg(coalesce(sp.kind, chr(0)) || chr(31) ||
                                             coalesce(sp.text, chr(0)) || chr(31) ||
                                             coalesce(sp.media_ref, chr(0)),
                                             chr(30) ORDER BY sp.offset), '')) AS span_sig
              FROM s GROUP BY doc_id)
            SELECT doc_id, length(story) AS story_len, span_sig FROM agg
        """,
        "kg_media_features": f"""
            WITH s AS (SELECT doc_id, unnest(spans) AS sp FROM {docs})
            SELECT doc_id, sp.media_ref AS media_ref, sp.kind AS kind,
                   length(repeat(sha256(sp.media_ref), 4))::BIGINT AS n_bytes,
                   md5(repeat(sha256(sp.media_ref), 4)) AS checksum
            FROM s WHERE sp.kind <> 'text'
        """,
        "kg_simhash_pairs": f"""
            WITH d AS (SELECT doc_id AS id, {toks_lower} AS toks FROM documents),
            t AS (SELECT id, {sim_bits} AS sh FROM d),
            ex AS (
              SELECT id, 0 AS seg, substr(sh, 1, 10) AS skey, sh FROM t
              UNION ALL SELECT id, 1, substr(sh, 11, 10), sh FROM t
              UNION ALL SELECT id, 2, substr(sh, 21, 12), sh FROM t),
            ok AS (SELECT seg, skey FROM ex GROUP BY 1, 2 HAVING count(*) <= 500),
            e2 AS (SELECT ex.* FROM ex JOIN ok USING (seg, skey)),
            p AS (SELECT a.id AS id_a, b.id AS id_b,
                         any_value(a.sh) AS sh_a, any_value(b.sh) AS sh_b
                  FROM e2 a JOIN e2 b USING (seg, skey)
                  WHERE a.id < b.id GROUP BY 1, 2),
            h AS (SELECT id_a, id_b,
                         len(list_filter(generate_series(1, 32),
                                         i -> substr(sh_a, i, 1) <> substr(sh_b, i, 1))) AS hamming
                  FROM p)
            SELECT id_a, id_b, hamming FROM h WHERE hamming <= 2
        """,
        # Expected-value oracle: the pipeline's recorded counter metrics
        # must equal the ground-truth corpus counts.
        "kg_ops_metrics": f"""
            SELECT 'docs_processed' AS name,
                   (SELECT count(*) FROM {gt_e})::DOUBLE AS value
            UNION ALL
            SELECT 'mentions',
                   (SELECT count(*) FROM (SELECT unnest(entities) FROM {gt_e}))::DOUBLE
            UNION ALL
            SELECT 'triples', (SELECT count(*) FROM {gt_t})::DOUBLE
            UNION ALL
            SELECT 'dropped_endpoint_rows', 0.0
        """,
        # Expected-value oracle: the fixture corpus is built so a correct
        # extractor+evaluator scores EXACTLY 1.0 on every micro metric and
        # attribute accuracy (GT is by construction). Any regression in
        # extraction, linking, or the greedy matcher turns this row red —
        # the greedy matcher itself is not SQL-expressible (order-sensitive).
        "kg_eval_metrics": """
            SELECT 1.0 AS entity_attr_companyName_accuracy,
                   1.0 AS entity_attr_country_accuracy,
                   1.0 AS entity_attr_industry_accuracy,
                   1.0 AS entity_attr_ticker_accuracy,
                   1.0 AS entity_f1,
                   1.0 AS entity_precision,
                   1.0 AS entity_recall,
                   1.0 AS overall_f1,
                   1.0 AS rel_attr_percentage_accuracy,
                   1.0 AS rel_attr_transactionDate_accuracy,
                   1.0 AS rel_attr_valueAmount_accuracy,
                   1.0 AS relationship_f1,
                   1.0 AS relationship_precision,
                   1.0 AS relationship_recall
        """,
        "q_embedding_neardup_lsh": f"""
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
            tb AS ({lsh_tbl}),
            ok AS (SELECT tbl, bucket FROM tb GROUP BY 1, 2 HAVING count(*) <= 1000),
            t2 AS (SELECT tb.* FROM tb JOIN ok USING (tbl, bucket)),
            p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                         any_value(a.v) AS v_a, any_value(b.v) AS v_b
                  FROM t2 a JOIN t2 b USING (tbl, bucket)
                  WHERE a.vec_id < b.vec_id GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(list_dot_product(v_a, v_b)
                         / (sqrt(list_dot_product(v_a, v_a)) * sqrt(list_dot_product(v_b, v_b))), 6) AS cosine
            FROM p
            WHERE list_dot_product(v_a, v_b)
                  / (sqrt(list_dot_product(v_a, v_a)) * sqrt(list_dot_product(v_b, v_b))) >= 0.4
        """,
        "kg_lsh_ann": f"""
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
            tb AS ({lsh_tbl}),
            qs AS (SELECT vec_id AS query_id, v AS v_q, tbl, bucket FROM tb WHERE vec_id < 10),
            its AS (SELECT vec_id AS item_id, v AS v_i, tbl, bucket FROM tb),
            -- mirror of lsh_topk's max_block bucket purge (default 2000)
            big AS (SELECT tbl, bucket FROM its
                    GROUP BY tbl, bucket HAVING count(*) > 2000),
            its2 AS (SELECT its.* FROM its ANTI JOIN big USING (tbl, bucket)),
            cand AS (SELECT query_id, item_id,
                            any_value(v_q) AS v_q, any_value(v_i) AS v_i
                     FROM its2 JOIN qs USING (tbl, bucket)
                     WHERE item_id <> query_id GROUP BY 1, 2),
            scored AS (SELECT query_id, item_id,
                              list_dot_product(v_q, v_i)
                                / (sqrt(list_dot_product(v_q, v_q)) * sqrt(list_dot_product(v_i, v_i))) AS c
                       FROM cand),
            ranked AS (SELECT query_id, item_id, round(c, 6) AS cosine,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY c DESC, item_id ASC) AS rank
                       FROM scored)
            SELECT query_id, item_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
    }


def oracle_sql() -> dict[str, str]:
    shingles = f"list_distinct({_ngrams_sql('toks', 3)})"
    toks_lower = _TOKENS.format(col="lower(text)")
    lang_occ = lambda m: (
        f"(length(' ' || lower(text) || ' ') - length(replace(' ' || lower(text) || ' ', '{m}', ''))) / {len(m)}"
    )
    lang_scores = {
        "en": " + ".join(lang_occ(m) for m in [" the ", " and ", " of ", " to ", " a "]),
        "es": " + ".join(lang_occ(m) for m in [" el ", " la ", " los ", " de ", " que "]),
        "de": " + ".join(lang_occ(m) for m in [" der ", " die ", " und ", " das ", " nicht "]),
        "fr": " + ".join(lang_occ(m) for m in [" le ", " la ", " les ", " et ", " que "]),
    }
    stopwords = "['the','a','an','and','of','to','in','is','that','for']"
    out = {
        "q_quality_filter": f"""
            SELECT doc_id, {_TC} AS token_count, n_chars
            FROM documents
            WHERE lang = 'en' AND n_chars >= 200 AND {_TC} >= 30
        """,
        "q_token_stats": f"""
            SELECT lang,
                   count(*) AS n_docs,
                   round(CAST(sum(tc) AS DOUBLE) / count(*), 6) AS avg_tokens,
                   min(tc) AS min_tokens,
                   max(tc) AS max_tokens,
                   sum(tc)::BIGINT AS sum_tokens
            FROM (SELECT lang, {_TC} AS tc FROM documents)
            GROUP BY lang
        """,
        "q_token_hist_ref": f"""
            SELECT least(175, (floor(tc / 25) * 25))::BIGINT AS bin_lo,
                   count(*) AS n_docs
            FROM (SELECT (floor({_TC} * 1.3) + 10)::BIGINT AS tc FROM documents)
            WHERE tc BETWEEN 0 AND 200
            GROUP BY 1
        """,
        "q_bpe_token_count": f"""
            SELECT doc_id,
                   len({_TOKENS.format(col='text')}) AS ws_tokens,
                   len(regexp_extract_all(text,
                       '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s'']+'))::BIGINT AS bpe_tokens
            FROM documents
        """,
        "q_redact_pii": _pii_oracle_sql(),
        "q_gopher_signals": _gopher_oracle_sql(),
        "q_ngram_repetition": f"""
            WITH inj AS (
              SELECT doc_id,
                     text || CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1)
                                       IN ('0','1')
                             THEN ' alpha beta gamma delta epsilon'
                                  || ' alpha beta gamma delta epsilon'
                             ELSE '' END AS text
              FROM documents
            ), t AS (
              SELECT doc_id,
                     {_TOKENS.format(col='lower(trim(text))')} AS toks
              FROM inj
            ), base AS (
              SELECT doc_id,
                     coalesce(list_aggregate(
                       list_transform(toks, w -> length(w)), 'sum'), 0)::BIGINT
                       AS total_chars,
                     toks
              FROM t
            ), g2 AS (
              SELECT doc_id, unnest({_ngrams_sql('toks', 2, keep_short=False)}) AS gram
              FROM base
            ), c2 AS (
              SELECT doc_id, gram, count(*)::BIGINT AS c,
                     (length(gram) - 1)::BIGINT AS chars
              FROM g2 GROUP BY doc_id, gram
            ), top1 AS (
              SELECT doc_id, gram AS top_ngram, c * chars AS top_chars
              FROM (SELECT *, row_number() OVER (
                      PARTITION BY doc_id ORDER BY c DESC, gram ASC) AS rn
                    FROM c2)
              WHERE rn = 1
            ), g5 AS (
              SELECT doc_id, unnest({_ngrams_sql('toks', 5, keep_short=False)}) AS gram
              FROM base
            ), c5 AS (
              SELECT doc_id, gram, count(*)::BIGINT AS c,
                     (length(gram) - 4)::BIGINT AS chars
              FROM g5 GROUP BY doc_id, gram
            ), dup AS (
              SELECT doc_id, sum(c * chars)::BIGINT AS dup_chars
              FROM c5 WHERE c >= 2 GROUP BY doc_id
            ), fr AS (
              SELECT b.doc_id, top1.top_ngram,
                     CASE WHEN b.total_chars > 0 THEN
                       coalesce(top1.top_chars, 0)::DOUBLE
                         / b.total_chars::DOUBLE
                     ELSE 0.0 END AS tf,
                     CASE WHEN b.total_chars > 0 THEN
                       coalesce(dup.dup_chars, 0)::DOUBLE
                         / b.total_chars::DOUBLE
                     ELSE 0.0 END AS df
              FROM base b
              LEFT JOIN top1 USING (doc_id) LEFT JOIN dup USING (doc_id)
            )
            SELECT doc_id, top_ngram,
                   round(tf, 6) AS top_ngram_char_frac,
                   round(df, 6) AS dup_ngram_char_frac,
                   (tf <= 0.20 AND df <= 0.15) AS repetition_pass
            FROM fr
        """,
        "q_decontaminate": f"""
            WITH t AS (
              SELECT doc_id,
                     {_TOKENS.format(col='lower(trim(text))')} AS toks
              FROM documents
            ), h AS (
              SELECT doc_id, {_ngrams_sql('toks', 8, 'md5({})')} AS hs
              FROM t
            ), g AS (
              SELECT doc_id, unnest(list_distinct(hs)) AS g FROM h
            ), test_g AS (
              SELECT DISTINCT g FROM g
              WHERE substr(md5(doc_id::VARCHAR), 1, 1) IN ('0','1')
            ), hits AS (
              SELECT g.doc_id, count(*)::BIGINT AS contaminated_ngrams
              FROM g JOIN test_g USING (g) GROUP BY g.doc_id
            )
            SELECT d.doc_id,
                   coalesce(hits.contaminated_ngrams, 0)::BIGINT
                     AS contaminated_ngrams,
                   coalesce(hits.contaminated_ngrams, 0) > 0
                     AS is_contaminated
            FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id
        """,
        "q_c4_span_dedup": """
            WITH inj AS (
              SELECT doc_id,
                     text || CASE WHEN substr(md5(doc_id::VARCHAR), 1, 1)
                                       IN ('0','1')
                             THEN '. alpha beta. gamma delta. epsilon zeta'
                             ELSE '' END AS text
              FROM documents
            ), d AS (
              SELECT doc_id AS id, string_split(text, '. ') AS s,
                     len(string_split(text, '. ')) AS n
              FROM inj
            ), sp AS (
              SELECT id, i, md5(array_to_string(s[i:i+2], '. ')) AS h
              FROM (SELECT id, s, unnest(generate_series(1, n - 2)) AS i
                    FROM d WHERE n >= 3)
            ), ranked AS (
              SELECT id, i,
                     row_number() OVER (PARTITION BY h ORDER BY id, i) AS rn,
                     count(*) OVER (PARTITION BY h) AS cnt
              FROM sp
            ), removed AS (
              SELECT DISTINCT id, idx FROM (
                SELECT id, unnest(generate_series(i, i + 2)) AS idx
                FROM ranked WHERE cnt > 1 AND rn > 1)
            ), sent AS (
              SELECT id, generate_subscripts(s, 1) AS idx, unnest(s) AS sent
              FROM d
            ), kept AS (
              SELECT sent.* FROM sent ANTI JOIN removed USING (id, idx)
            ), rebuilt AS (
              SELECT id,
                     array_to_string(list(sent ORDER BY idx), '. ')
                       AS clean_text,
                     count(*) AS n_kept
              FROM kept GROUP BY id
            )
            SELECT d.id AS doc_id,
                   coalesce(r.clean_text, '') AS clean_text,
                   d.n::BIGINT AS n_sentences,
                   (d.n - coalesce(r.n_kept, 0))::BIGINT AS n_removed
            FROM d LEFT JOIN rebuilt r USING (id)
        """,
        "q_chunk_documents": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS.format(col='text')} AS t FROM documents
            ), sized AS (
              SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
            ), starts AS (
              SELECT doc_id, t, n, unnest(range(0, greatest(n - 8, 1), 56)) AS s
              FROM sized
            )
            SELECT doc_id,
                   (s // 56)::BIGINT AS chunk_id,
                   s::BIGINT AS start_token,
                   least(64, n - s)::BIGINT AS n_tokens,
                   array_to_string(t[s + 1 : s + 64], ' ') AS chunk_text
            FROM starts
        """,
        "q_pack_chunks": f"""
            WITH toks AS (
              SELECT doc_id, {_TOKENS.format(col='text')} AS t FROM documents
            ), sized AS (
              SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0
            ), chunks AS (
              SELECT doc_id, (s // 32)::BIGINT AS chunk_id,
                     least(32, n - s)::BIGINT AS n_tokens,
                     array_to_string(t[s + 1 : s + 32], ' ') AS chunk_text
              FROM (SELECT doc_id, t, n,
                           unnest(range(0, greatest(n, 1), 32)) AS s
                    FROM sized)
            ), binned AS (
              SELECT doc_id, chunk_id, n_tokens, chunk_text,
                     (coalesce((sum(n_tokens) OVER (
                        PARTITION BY doc_id ORDER BY chunk_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ))::BIGINT, 0) // 128)::BIGINT AS bin_id
              FROM chunks
            )
            SELECT doc_id, bin_id, count(*)::BIGINT AS n_chunks,
                   sum(n_tokens)::BIGINT AS n_tokens,
                   string_agg(chunk_text, ' ' ORDER BY chunk_id) AS packed_text
            FROM binned GROUP BY 1, 2
        """,
        "q_dedup_exact": """
            WITH base AS (SELECT doc_id::VARCHAR AS doc_id, text FROM documents),
            corpus AS (
              SELECT doc_id, text FROM base
              UNION ALL
              SELECT doc_id || '_dup' AS doc_id, text
              FROM base WHERE substr(md5(doc_id), 1, 1) = '0'
            )
            SELECT doc_id AS dup_id, keep_id
            FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(lower(trim(text)))) AS keep_id
                  FROM corpus)
            WHERE doc_id <> keep_id
        """,
        "q_stratified_sample": """
            SELECT o_orderkey, o_orderstatus, o_custkey
            FROM (
                SELECT o_orderkey, o_orderstatus, o_custkey,
                       row_number() OVER (
                           PARTITION BY o_orderstatus
                           ORDER BY md5('42:' || o_orderkey::VARCHAR) ASC,
                                    o_orderkey ASC) AS rn
                FROM orders
            ) WHERE rn <= 5
        """,
        "q_name_normalize": f"""
            WITH named AS (
              SELECT p_partkey,
                     p_name || CASE p_partkey % 4
                                 WHEN 0 THEN ', Inc.'
                                 WHEN 1 THEN ' Corp'
                                 WHEN 2 THEN ' & Co. Ltd.'
                                 ELSE '' END AS name
              FROM part)
            SELECT p_partkey, name,
                   {_norm_sql('name')} AS norm
            FROM named
        """,
        "q_lang_id": f"""
            WITH s AS (
              SELECT doc_id,
                     {lang_scores['en']} AS score_en,
                     {lang_scores['es']} AS score_es,
                     {lang_scores['de']} AS score_de,
                     {lang_scores['fr']} AS score_fr
              FROM documents)
            SELECT doc_id,
                   CASE WHEN greatest(score_en, score_es, score_de, score_fr) <= 0 THEN 'und'
                        WHEN score_en = greatest(score_en, score_es, score_de, score_fr) THEN 'en'
                        WHEN score_es = greatest(score_en, score_es, score_de, score_fr) THEN 'es'
                        WHEN score_de = greatest(score_en, score_es, score_de, score_fr) THEN 'de'
                        ELSE 'fr' END AS lang_pred,
                   CAST(greatest(score_en, score_es, score_de, score_fr) AS DOUBLE) AS lang_score
            FROM s
        """,
        "q_quality_score": f"""
            WITH t AS (
              SELECT doc_id, lower(text) AS low,
                     {_TOKENS.format(col='lower(text)')} AS toks
              FROM documents)
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   round(CASE WHEN length(low) > 0
                         THEN length(regexp_replace(low, '[a-z0-9\\s]', '', 'g'))::DOUBLE / length(low)
                         ELSE 0 END, 6) AS punct_ratio,
                   round(CASE WHEN len(toks) > 0
                         THEN len(list_filter(toks, x -> list_contains({stopwords}, x)))::DOUBLE / len(toks)
                         ELSE 0 END, 6) AS stop_ratio,
                   round(0.4 * least(1.0, len(toks) / 100.0)
                       + 0.3 * (1.0 - CASE WHEN length(low) > 0
                             THEN length(regexp_replace(low, '[a-z0-9\\s]', '', 'g'))::DOUBLE / length(low) ELSE 0 END)
                       + 0.3 * least(1.0, 4.0 * CASE WHEN len(toks) > 0
                             THEN len(list_filter(toks, x -> list_contains({stopwords}, x)))::DOUBLE / len(toks) ELSE 0 END), 6) AS quality
            FROM t
        """,
        "q_tfidf_top_terms": """
            WITH toks AS (
                SELECT doc_id,
                       unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS term
                FROM documents
            ), tf AS (
                SELECT doc_id, term, count(*) AS tf
                FROM toks WHERE term <> '' GROUP BY doc_id, term
            ), dfreq AS (
                SELECT term, count(*) AS df FROM tf GROUP BY term
            ), nd AS (
                SELECT count(DISTINCT doc_id) AS n FROM documents
            ), scored AS (
                SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                       (tf.tf * (nd.n + 1.0)) / (dfreq.df + 1.0) AS score
                FROM tf JOIN dfreq USING (term), nd
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank
                FROM scored
            )
            SELECT doc_id, term, tf, df, score, rank FROM ranked WHERE rank <= 3
        """,
        "q_winnow_fingerprint": f"""
            WITH t AS (SELECT doc_id, {_TOKENS.format(col='lower(trim(text))')} AS toks FROM documents),
            h AS (SELECT doc_id, {_ngrams_sql('toks', 3, 'md5({})')} AS hs FROM t),
            m AS (SELECT doc_id,
                    CASE WHEN len(hs) >= 4
                      THEN list_transform(generate_series(1, len(hs)-3), i -> list_min(hs[i:i+3]))
                      ELSE [list_min(hs)] END AS mins
                  FROM h)
            SELECT doc_id, unnest(list_distinct(mins)) AS fp FROM m
        """,
        "q_ngram_jaccard": f"""
            WITH t AS (SELECT doc_id, {toks_lower} AS toks FROM documents),
            s AS (SELECT doc_id, {shingles} AS sh FROM t),
            pref AS (SELECT doc_id,
                            list_sort(list_transform(sh, x -> md5(x)))[1:(floor(len(sh) * 0.2)::INT + 1)] AS p
                     FROM s),
            e AS (SELECT doc_id, unnest(p) AS sg FROM pref),
            bs AS (SELECT sg FROM e GROUP BY sg HAVING count(*) <= 200),
            e2 AS (SELECT e.* FROM e JOIN bs USING (sg)),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM e2 a JOIN e2 b USING (sg) WHERE a.doc_id < b.doc_id
                  GROUP BY 1, 2),
            j AS (SELECT id_a, id_b,
                         round(len(list_intersect(x.sh, y.sh))::DOUBLE
                               / len(list_distinct(list_concat(x.sh, y.sh))), 6) AS jaccard
                  FROM p JOIN s x ON x.doc_id = p.id_a JOIN s y ON y.doc_id = p.id_b)
            SELECT * FROM j WHERE jaccard >= 0.8
        """,
        "q_minhash_lsh": f"""
            WITH t AS (SELECT doc_id, {toks_lower} AS toks FROM documents),
            s AS (SELECT doc_id, {shingles} AS sh FROM t),
            sig AS (SELECT doc_id, sh,
                      {', '.join(f"list_min(list_transform(sh, x -> md5('{j}:' || x))) AS mh{j}" for j in range(8))}
                    FROM s),
            bands AS (
              SELECT doc_id, sh, 0 AS band, md5(mh0 || '|' || mh1) AS bkey FROM sig
              UNION ALL SELECT doc_id, sh, 1, md5(mh2 || '|' || mh3) FROM sig
              UNION ALL SELECT doc_id, sh, 2, md5(mh4 || '|' || mh5) FROM sig
              UNION ALL SELECT doc_id, sh, 3, md5(mh6 || '|' || mh7) FROM sig),
            ok AS (SELECT band, bkey FROM bands GROUP BY 1, 2 HAVING count(*) <= 200),
            b2 AS (SELECT bands.* FROM bands JOIN ok USING (band, bkey)),
            cand AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                            any_value(a.sh) AS sh_a, any_value(b.sh) AS sh_b
                     FROM b2 a JOIN b2 b USING (band, bkey)
                     WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
            SELECT id_a, id_b,
                   round(len(list_intersect(sh_a, sh_b))::DOUBLE
                         / len(list_distinct(list_concat(sh_a, sh_b))), 6) AS jaccard
            FROM cand
            WHERE len(list_intersect(sh_a, sh_b))::DOUBLE
                  / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.8
        """,
        "q_embedding_neardup": """
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v, label FROM embeddings)
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
            FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
        """,
        "q_ann_topk": """
            WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS vq FROM e WHERE vec_id < 10),
            scored AS (
              SELECT q.query_id, e.vec_id AS item_id,
                     list_dot_product(q.vq, e.v)
                       / (sqrt(list_dot_product(q.vq, q.vq)) * sqrt(list_dot_product(e.v, e.v))) AS c
              FROM q JOIN e ON e.vec_id <> q.query_id),
            ranked AS (
              SELECT query_id, item_id, round(c, 6) AS cosine,
                     row_number() OVER (PARTITION BY query_id ORDER BY c DESC, item_id ASC) AS rank
              FROM scored)
            SELECT query_id, item_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "q_ivf_ann": """
            WITH e AS (SELECT vec_id AS item_id, list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
            cents AS (SELECT item_id AS cell_id, v AS cv
                      FROM e ORDER BY md5('ivf:' || item_id), item_id LIMIT 16),
            cos AS (SELECT e.item_id, e.v, c.cell_id,
                           list_dot_product(e.v, c.cv)
                             / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cd
                    FROM e CROSS JOIN cents c),
            items AS (SELECT item_id, v, cell_id
                      FROM (SELECT *, row_number() OVER (PARTITION BY item_id
                                        ORDER BY cd DESC, cell_id ASC) AS cr FROM cos)
                      WHERE cr = 1),
            probes AS (SELECT item_id AS query_id, v AS v_q, cell_id
                       FROM (SELECT *, row_number() OVER (PARTITION BY item_id
                                         ORDER BY cd DESC, cell_id ASC) AS cr FROM cos)
                       WHERE cr <= 2 AND item_id < 10),
            cand AS (SELECT p.query_id, i.item_id,
                            any_value(p.v_q) AS v_q, any_value(i.v) AS v_i
                     FROM items i JOIN probes p USING (cell_id)
                     WHERE i.item_id <> p.query_id GROUP BY 1, 2),
            scored AS (SELECT query_id, item_id,
                              list_dot_product(v_q, v_i)
                                / (sqrt(list_dot_product(v_q, v_q)) * sqrt(list_dot_product(v_i, v_i))) AS c
                       FROM cand),
            ranked AS (SELECT query_id, item_id, round(c, 6) AS cosine,
                              row_number() OVER (PARTITION BY query_id
                                                 ORDER BY c DESC, item_id ASC) AS rank
                       FROM scored)
            SELECT query_id, item_id, cosine, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 5
        """,
        "q_anti_join_resume": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                                    WHERE o_custkey IS NOT NULL AND o_totalprice > 400000)
        """,
        "q_top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, CAST(rn AS INT) AS rn
            FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                         row_number() OVER (PARTITION BY o_custkey
                                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
                  FROM orders)
            WHERE rn <= 3
        """,
        "q_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
                   sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(28,6))) :: DOUBLE AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2024-12-01 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_asof_join": """
            WITH ranked AS (
                SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice,
                       row_number() OVER (
                           PARTITION BY e.event_id
                           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC
                       ) AS rn
                FROM events e
                JOIN orders o
                  ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
            )
            SELECT event_id, user_id, o_orderkey AS asof_orderkey,
                   round(o_totalprice, 2) AS asof_totalprice
            FROM ranked WHERE rn = 1
        """,
        "q_sessionize": """
            WITH lagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR epoch(ts) - epoch(lag(ts) OVER w) > 21600
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), sess AS (
                SELECT user_id, ts,
                       CAST(sum(brk) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_num
                FROM lagged
            )
            SELECT user_id, session_num, count(*) AS n_events,
                   min(ts) AS start_ts, max(ts) AS end_ts
            FROM sess GROUP BY user_id, session_num
        """,
        "q_rolling_agg": """
            SELECT event_id, user_id,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE) AS roll_sum,
                   CAST(sum(CAST(value AS DECIMAL(28,6))) OVER w AS DOUBLE)
                       / CAST(count(*) OVER w AS DOUBLE) AS roll_mean,
                   min(value) OVER w AS roll_min,
                   max(value) OVER w AS roll_max
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "q_orders_join_agg": """
            SELECT n_name AS nation, count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "q_key_skew_profile": """
            WITH c AS (
              SELECT user_id, count(*)::BIGINT AS n_rows FROM events GROUP BY 1
            ), t AS (SELECT count(*)::BIGINT AS total FROM events)
            SELECT user_id, n_rows,
                   CAST(n_rows AS DOUBLE) / CAST(total AS DOUBLE) AS share,
                   (row_number() OVER (ORDER BY n_rows DESC, user_id))::BIGINT AS rank
            FROM c, t
            ORDER BY n_rows DESC, user_id
            LIMIT 20
        """,
        "q_rollup_revenue": """
            SELECT n_name AS nation, o_orderstatus,
                   count(*) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY ROLLUP (n_name, o_orderstatus)
        """,
        "q_salted_join": """
            SELECT o_custkey AS custkey, o_orderkey,
                   round(o_totalprice, 2) AS totalprice, c_mktsegment
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
    }
    # near-dup clusters: the q_ngram_jaccard oracle as the pair source, then
    # hash-min label propagation unrolled 12 supersteps (MATERIALIZED — each
    # level is referenced twice; an inlining planner would go 2^12). String
    # ids on BOTH sides so min/least order identically cross-engine.
    nd_ctes = [
        f"pairs AS (SELECT id_a::VARCHAR AS key_a, id_b::VARCHAR AS key_b "
        f"FROM ({out['q_ngram_jaccard']}))",
        "u AS (SELECT key_a AS src, key_b AS dst FROM pairs "
        "UNION SELECT key_b, key_a FROM pairs)",
        "l0 AS (SELECT DISTINCT doc_id::VARCHAR AS name, doc_id::VARCHAR AS comp FROM documents)",
    ]
    for i in range(1, 13):
        nd_ctes.append(
            f"""l{i} AS MATERIALIZED (
              SELECT l.name,
                     least(l.comp, coalesce(nm.nbr_comp, l.comp)) AS comp
              FROM l{i - 1} l LEFT JOIN (
                SELECT u.dst AS name, min(p.comp) AS nbr_comp
                FROM u JOIN l{i - 1} p ON u.src = p.name
                GROUP BY 1) nm ON l.name = nm.name)"""
        )
    out["q_neardup_clusters"] = (
        "WITH " + ",\n".join(nd_ctes)
        + "\nSELECT name AS doc_id, comp AS cluster_id, (name = comp) AS is_keeper FROM l12"
    )
    out.update(_kg_oracle_sql())
    # manifest-stats check: the merge layer's commit-time footer row counts
    # must equal the ground-truth table sizes (composed from the kg_triples
    # / kg_vertices oracles so there is a single source of expected truth)
    out["kg_table_stats"] = f"""
        SELECT 'triples' AS table_name,
               (SELECT count(*) FROM ({out['kg_triples']}))::BIGINT AS n_rows
        UNION ALL
        SELECT 'vertices' AS table_name,
               (SELECT count(*) FROM ({out['kg_vertices']}))::BIGINT AS n_rows
    """
    # CDC from-the-beginning read == the live table, every row an insert
    out["kg_changelog"] = (
        f"SELECT t.*, 'insert' AS _change_type FROM ({out['kg_triples']}) t"
    )
    return out
