"""Training-data operator tests: dedup family, ANN search, text analysis,
multimodal plumbing."""

import pyspark.sql.functions as F
import pytest

from financial_knowledge_graphs_spark.operators import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup
        (3, "the quick brown fox jumps over the lazy dog near the wide river bank"),  # near dup
        (4, "completely different content about spark shuffles and partitions here"),
        (5, "short"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(spark, docs):
    out = {(r["dup_id"], r["keep_id"]) for r in dedup.exact_duplicates(docs).collect()}
    assert out == {(2, 1)}


def test_ngram_jaccard_finds_near_dup(spark, docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in got and (1, 3) in got and (2, 3) in got
    assert all(r["jaccard"] >= 0.5 for r in pairs)
    exact = next(r for r in pairs if (r["id_a"], r["id_b"]) == (1, 2))
    assert exact["jaccard"] == 1.0


def test_minhash_lsh_agrees_with_exact_jaccard(spark, docs):
    lsh = {(r["id_a"], r["id_b"]) for r in dedup.minhash_dedup_pairs(docs, threshold=0.5).collect()}
    exact = {(r["id_a"], r["id_b"]) for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    # LSH-verified pairs are a subset; at jaccard>=0.5 with 4 bands of 2 the
    # collision probability is high enough to catch these fixtures
    assert lsh <= exact
    assert (1, 2) in lsh


def test_simhash_identical_and_near(spark, docs):
    pairs = dedup.simhash_pairs(docs, max_hamming=4).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((1, 2)) == 0           # identical text -> distance 0
    assert (1, 3) in got                   # near dup within hamming budget
    assert (1, 4) not in got               # different doc far away


def test_embedding_near_dup_and_ann(spark):
    import math

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0, 0.0], 0),   # near dup of 0
        (2, [0.0, 1.0, 0.0, 0.0], 0),
        (3, [0.0, 0.0, 1.0, 0.0], 1),
        (4, [0.0, 0.001, 1.0, 0.0], 1),    # near dup of 3
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    nd = {(r["id_a"], r["id_b"]) for r in dedup.embedding_near_dup_pairs(e, 0.99).collect()}
    assert nd == {(0, 1), (3, 4)}

    topk = similarity.brute_force_topk(e, e.filter(F.col("vec_id") == 0), k=2)
    got = [(r["item_id"], r["rank"]) for r in topk.orderBy("rank").collect()]
    assert got[0] == (1, 1)


def test_lsh_ann_recall(spark):
    import random

    rng = random.Random(7)
    rows = []
    for i in range(200):
        v = [rng.gauss(0, 1) for _ in range(16)]
        rows.append((i, v, 0))
    # plant exact near-neighbors for queries 0..4
    for q in range(5):
        base = rows[q][1]
        rows.append((1000 + q, [x + rng.gauss(0, 0.01) for x in base], 0))
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    queries = e.filter(F.col("vec_id") < 5)
    exact = similarity.brute_force_topk(e, queries, k=3)
    approx = similarity.lsh_topk(e, queries, k=3, dim=16, n_planes=5, n_tables=6)
    # the planted twin (cosine ~1) must be found for every query
    top1 = {r["query_id"]: r["item_id"] for r in approx.filter(F.col("rank") == 1).collect()}
    assert top1 == {q: 1000 + q for q in range(5)}
    assert similarity.recall_at_k(exact, approx, k=3) >= 0.6


def test_lang_id_and_quality(spark):
    rows = [
        (1, "the cat and the dog of the house went to the garden"),
        (2, "el gato de la casa que corre por los tejados de la ciudad"),
        (3, "der Hund und die Katze und das Haus nicht weit von der Stadt"),
        (4, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_id(df).collect()}
    assert out[1] == "en" and out[2] == "es" and out[3] == "de" and out[4] == "und"

    q = {r["doc_id"]: r for r in text.quality_score(df).collect()}
    assert q[1]["quality"] > q[4]["quality"]
    assert q[1]["stop_ratio"] > 0.3


def test_fingerprint_stability(spark):
    df = spark.createDataFrame(
        [(1, "  The Quick Brown Fox  "), (2, "the quick brown fox")],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: (r["exact_fp"], r["shingle_fp"]) for r in text.fingerprint(df).collect()}
    assert fps[1] == fps[2]  # normalization-invariant


def test_multimodal_plumbing(spark, small_corpus):
    from financial_knowledge_graphs_spark import fixtures
    from financial_knowledge_graphs_spark.operators import multimodal

    docs = fixtures.documents_df(small_corpus)
    media = multimodal.media_table(docs)
    n_media = media.count()
    assert n_media > 0
    feats = multimodal.extract_features(media, fake=True)
    rows = feats.collect()
    assert len(rows) == n_media
    assert all(len(r["features"]) == 8 for r in rows)
    # deterministic: same payload -> same checksum/features
    f2 = multimodal.extract_features(media, fake=True).collect()
    assert {r["checksum"] for r in rows} == {r["checksum"] for r in f2}
    # real-decode path is explicitly stubbed
    with pytest.raises(NotImplementedError):
        multimodal._decode_bytes(b"x", "image", fake=False)


def test_ivf_topk_recall(spark):
    """IVF coarse-quantizer ANN: candidates only from probed cells, exact
    re-rank, recall@5 vs brute force well above chance."""
    from financial_knowledge_graphs_spark.operators.similarity import (
        brute_force_topk, ivf_topk, recall_at_k,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 10")
    exact = brute_force_topk(e, q, k=5)
    approx = ivf_topk(e, q, k=5, n_cells=8, nprobe=2)
    r = recall_at_k(exact, approx, k=5)
    assert 0.2 <= r <= 1.0, r
    # every reported neighbor is a real item with the exact cosine
    joined = approx.join(
        exact.select("query_id", "item_id", exact.cosine.alias("exact_cos")),
        ["query_id", "item_id"], "left"
    ).filter("exact_cos IS NOT NULL AND abs(cosine - exact_cos) > 1e-9")
    assert joined.count() == 0


def test_multimodal_resize_and_frame_sample(spark, small_corpus):
    """Resize updates image payload + dimensions (non-images untouched);
    frame sampling emits duration-driven frame indices."""
    from pyspark.sql import functions as F

    from financial_knowledge_graphs_spark import fixtures
    from financial_knowledge_graphs_spark.operators import multimodal

    media = multimodal.media_table(fixtures.documents_df(small_corpus))
    resized = multimodal.resize(media, width=16, height=16, fake=True)
    imgs = resized.filter(F.col("kind") == "image")
    row = imgs.first()
    assert row["width"] == 16 and row["height"] == 16
    assert len(row["payload"]) == 16 * 16 * 3
    # deterministic: same input -> same resized bytes
    again = multimodal.resize(media, width=16, height=16, fake=True).filter(
        F.col("media_ref") == row["media_ref"]
    ).first()
    assert bytes(again["payload"]) == bytes(row["payload"])
    # non-image rows pass through untouched
    tbl = resized.filter(F.col("kind") == "table").first()
    src = media.filter(F.col("media_ref") == tbl["media_ref"]).first()
    assert bytes(tbl["payload"]) == bytes(src["payload"])

    vids = media.limit(2).withColumn("kind", F.lit("video")).withColumn(
        "duration_ms", F.lit(3500).cast("long")
    )
    frames = multimodal.frame_sample(vids, every_ms=1000)
    per_ref = frames.groupBy("media_ref").count().collect()
    # sample instants 0,1000,2000,3000 are all < 3500 -> 4 frames
    assert all(r["count"] == 4 for r in per_ref)
    # exact multiple: instants 0,1000,2000 < 3000 -> 3 frames (the last
    # in-range frame must not be lost)
    exact = vids.withColumn("duration_ms", F.lit(3000).cast("long"))
    assert all(r["count"] == 3 for r in
               multimodal.frame_sample(exact, every_ms=1000)
               .groupBy("media_ref").count().collect())
    # NULL/zero duration: no phantom frame 0
    nul = vids.withColumn("duration_ms", F.lit(None).cast("long"))
    assert multimodal.frame_sample(nul, every_ms=1000).count() == 0
    # media_table now synthesizes a deterministic positive video duration
    assert media.filter(
        (F.col("kind") == "video")
        & ((F.col("duration_ms").isNull()) | (F.col("duration_ms") <= 0))
    ).count() == 0


def test_neardup_clusters_collapse_and_keeper(spark, docs):
    """Pairs → clusters: the 1-2-3 near-dup chain is ONE cluster with the
    min id as keeper; unrelated and too-short docs are singleton keepers.
    A transitive chain (1-2, 2-3 without 1-3) must still collapse."""
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    out = {r["doc_id"]: r for r in dedup.near_dup_clusters(docs, pairs).collect()}
    assert set(out) == {"1", "2", "3", "4", "5"}  # every doc, string ids
    assert [out[k]["cluster_id"] for k in ("1", "2", "3")] == ["1", "1", "1"]
    assert out["1"]["is_keeper"] and not out["2"]["is_keeper"] and not out["3"]["is_keeper"]
    for k in ("4", "5"):
        assert out[k]["cluster_id"] == k and out[k]["is_keeper"]

    # explicit transitive chain: drop the (1,3) edge, same clustering
    chain = pairs.filter(~((F.col("id_a") == 1) & (F.col("id_b") == 3)))
    out2 = {r["doc_id"]: r["cluster_id"]
            for r in dedup.near_dup_clusters(docs, chain).collect()}
    assert [out2[k] for k in ("1", "2", "3")] == ["1", "1", "1"]


def test_tfidf_top_terms_hand_checked(spark):
    from financial_knowledge_graphs_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            ("d1", "apple apple banana common"),
            ("d2", "banana cherry common"),
            ("d3", "cherry cherry cherry common"),
        ],
        "doc_id string, text string",
    )
    got = {
        (r["doc_id"], r["rank"]): (r["term"], r["tf"], r["df"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    # N=3; score = tf*4/(df+1). d1: apple 2*4/2=4.0 > banana 1*4/3 > common 1*4/4
    assert got[("d1", 1)] == ("apple", 2, 1)
    assert got[("d1", 2)] == ("banana", 1, 2)
    # d3: cherry 3*4/3=4.0 > common 1.0
    assert got[("d3", 1)] == ("cherry", 3, 2)
    assert got[("d3", 2)] == ("common", 1, 3)
    # d2: banana and cherry tie at 4/3 -> term ASC breaks: banana first
    assert got[("d2", 1)] == ("banana", 1, 2)
    assert got[("d2", 2)] == ("cherry", 1, 2)


def test_chunk_documents_hand_checked(spark):
    from financial_knowledge_graphs_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))),  # 10 toks, N=4 K=1 -> 0,3,6
         (2, "a b"),                                  # short: one chunk
         (3, "   "),                                  # empty: no rows
         (4, "x\n y\tz")],                            # mixed whitespace
        "doc_id long, text string")
    got = [tuple(r) for r in chunk_documents(df, chunk_tokens=4, overlap=1)
           .orderBy("doc_id", "chunk_id").collect()]
    assert got == [
        (1, 0, 0, 4, "t0 t1 t2 t3"),
        (1, 1, 3, 4, "t3 t4 t5 t6"),
        (1, 2, 6, 4, "t6 t7 t8 t9"),
        (2, 0, 0, 2, "a b"),
        (4, 0, 0, 3, "x y z"),
    ]


def test_chunk_documents_full_coverage_property(spark):
    """Every token index is covered by >=1 chunk; consecutive chunks share
    exactly `overlap` tokens (except a short tail); no chunk is a suffix
    of its predecessor."""
    import random

    from financial_knowledge_graphs_spark.operators.text import chunk_documents

    rng = random.Random("chunk:1")
    rows = [(i, " ".join(f"w{j}" for j in range(rng.randrange(1, 300))))
            for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    n_toks = {i: len(t.split()) for i, t in rows}
    out = chunk_documents(df, chunk_tokens=64, overlap=8)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == set(n_toks)
    for d, chunks in by_doc.items():
        chunks.sort(key=lambda r: r["chunk_id"])
        covered = set()
        for c in chunks:
            assert c["n_tokens"] >= 1
            covered |= set(range(c["start_token"], c["start_token"] + c["n_tokens"]))
            assert len(c["chunk_text"].split()) == c["n_tokens"]
        assert covered == set(range(n_toks[d]))
        for a, b in zip(chunks, chunks[1:]):
            assert b["start_token"] == a["start_token"] + 56
            assert a["start_token"] + a["n_tokens"] < b["start_token"] + b["n_tokens"]


def test_chunk_documents_no_shuffle_plan(spark):
    from financial_knowledge_graphs_spark.operators.text import chunk_documents

    df = spark.range(10).select(F.col("id").alias("doc_id"),
                                F.lit("a b c d e").alias("text"))
    plan = chunk_documents(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_redact_pii_hand_checked(spark):
    from financial_knowledge_graphs_spark.operators.text import redact_pii

    df = spark.createDataFrame([
        (1, "mail bob.smith+x@corp.example.com or call +1 (415) 555-0123"),
        (2, "ssn 123-45-6789 server 10.0.12.9 end"),   # ssn is NOT a phone
        (3, "clean text"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: tuple(r)[1:] for r in redact_pii(df).collect()}
    assert got[1] == (1, 0, 0, 1, "mail [EMAIL] or call [PHONE]")
    assert got[2] == (0, 1, 1, 0, "ssn [SSN] server [IP] end")
    assert got[3] == (0, 0, 0, 0, "clean text")


def test_gopher_signals_hand_checked(spark):
    from financial_knowledge_graphs_spark.operators.text import (
        gopher_quality_signals,
    )

    df = spark.createDataFrame([
        (1, "good solid prose line\nanother decent line here"),
        (2, "spam spam\nspam spam\nspam spam\nreal ..."),  # dup lines
        (3, "#### ## #"),                                   # symbol soup
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in gopher_quality_signals(df).collect()}
    assert got[1]["gopher_pass"] is True
    assert got[2]["dup_line_frac"] == 0.5 and got[2]["gopher_pass"] is False
    assert got[3]["symbol_ratio"] > 1 and got[3]["gopher_pass"] is False
    assert got[2]["ellipsis_line_frac"] == 0.25


def test_ngram_repetition_hand_checked(spark):
    from financial_knowledge_graphs_spark.operators.text import (
        ngram_repetition_signals,
    )

    df = spark.createDataFrame([
        (1, "the cat sat on the mat"),
        (2, "spam spam spam spam spam spam"),
        (3, "hi"),
    ], "doc_id long, text string")
    got = {r["doc_id"]: r
           for r in ngram_repetition_signals(df, top_n=2, dup_n=5).collect()}
    # doc 1: all 2-grams unique (count 1) -> tie-break gram asc = "cat sat";
    # its 6 chars over 17 total token chars
    assert got[1]["top_ngram"] == "cat sat"
    assert got[1]["top_ngram_char_frac"] == round(6 / 17, 6)
    assert got[1]["dup_ngram_char_frac"] == 0.0
    # doc 2: "spam spam" occurs 5x, 8 chars each = 40 over 24 total (overlap
    # overcounts, the paper's convention); the 5-gram dups twice, 20 chars
    assert got[2]["top_ngram"] == "spam spam"
    assert got[2]["top_ngram_char_frac"] == round(40 / 24, 6)
    assert got[2]["dup_ngram_char_frac"] == round(40 / 24, 6)
    assert got[2]["repetition_pass"] is False
    # doc 3: too short for any gram
    assert got[3]["top_ngram"] is None
    assert got[3]["top_ngram_char_frac"] == 0.0
    assert got[3]["repetition_pass"] is True


def test_decontaminate_hand_checked(spark):
    from financial_knowledge_graphs_spark.operators.text import decontaminate

    docs = spark.createDataFrame([
        (1, "the quick brown fox jumps over"),   # exact copy of test doc
        (2, "intro words the quick brown fox jumps over and more"),  # run
        (3, "totally unrelated clean content here"),
        (4, "ox"),                               # short, no overlap
    ], "doc_id long, text string")
    test = spark.createDataFrame(
        [(100, "the quick brown fox jumps over")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in decontaminate(docs, test, n=3).collect()}
    # test doc has 6 tokens -> 4 distinct 3-grams; doc 1 matches all 4
    assert got[1]["contaminated_ngrams"] == 4 and got[1]["is_contaminated"]
    # doc 2 contains the whole run -> also shares all 4 grams
    assert got[2]["contaminated_ngrams"] == 4 and got[2]["is_contaminated"]
    assert got[3]["contaminated_ngrams"] == 0 and not got[3]["is_contaminated"]
    assert got[4]["contaminated_ngrams"] == 0 and not got[4]["is_contaminated"]
    # schema: docs columns preserved + the two flags
    assert set(decontaminate(docs, test, n=3).columns) == {
        "doc_id", "text", "contaminated_ngrams", "is_contaminated"}


def test_decontaminate_short_doc_self_match(spark):
    """A test snippet shorter than n tokens still flags its exact copy via
    the whole-string fallback gram."""
    from financial_knowledge_graphs_spark.operators.text import decontaminate

    docs = spark.createDataFrame(
        [(1, "tiny snippet"), (2, "other text")], "doc_id long, text string")
    test = spark.createDataFrame([(9, "tiny snippet")],
                                 "doc_id long, text string")
    got = {r["doc_id"]: r["is_contaminated"]
           for r in decontaminate(docs, test, n=8).collect()}
    assert got == {1: True, 2: False}


def test_decontaminate_broadcasts_test_side(spark):
    from financial_knowledge_graphs_spark.operators.text import decontaminate

    docs = spark.range(50).select(F.col("id").alias("doc_id"),
                                  F.lit("a b c d e f g h i").alias("text"))
    test = docs.limit(2)
    plan = (decontaminate(docs, test, n=3)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan, plan


def test_text_ops_no_shuffle_plans(spark):
    from financial_knowledge_graphs_spark.operators.text import (
        gopher_quality_signals, redact_pii,
    )

    df = spark.range(10).select(F.col("id").alias("doc_id"),
                                F.lit("a b c").alias("text"))
    for out in (redact_pii(df), gopher_quality_signals(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan


def test_pack_chunks_hand_checked(spark):
    from financial_knowledge_graphs_spark.operators.text import (
        chunk_documents, pack_chunks,
    )

    # doc 1: 10 tokens -> chunks of 4/4/2; budget 8 -> bins [c0,c1], [c2]
    df = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10)))], "doc_id long, text string")
    ch = chunk_documents(df, chunk_tokens=4, overlap=0)
    got = {(r["doc_id"], r["bin_id"]): (r["n_chunks"], r["n_tokens"], r["packed_text"])
           for r in pack_chunks(ch, budget=8).collect()}
    assert got == {
        (1, 0): (2, 8, "t0 t1 t2 t3 t4 t5 t6 t7"),
        (1, 1): (1, 2, "t8 t9"),
    }
    # packing reuses the window's partitioning: exactly one Exchange
    plan = pack_chunks(ch, budget=8)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan


def test_ngram_jaccard_exact_threshold_pair_not_missed(spark):
    """ppjoin prefix regression: with t=0.8 and |A|=5, IEEE floor((1-t)*5)+1
    gave a one-short prefix; if A's only non-shared shingle had the smallest
    md5, the exactly-at-threshold pair (J=4/5) was silently missed. 's' has
    the smallest md5 among {s,a,h,l,y} — the adversarial layout."""
    from financial_knowledge_graphs_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    docs = spark.createDataFrame(
        [(1, "s a h l y"), (2, "a h l y")], "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(docs, n=1, threshold=0.8).collect()}
    assert got == {(1, 2): 0.8}


def test_c4_span_dedup_hand_checked(spark):
    """C4 §2.2: all but one occurrence of a duplicated 3-sentence span are
    removed; keeper = min (doc_id, position); short docs untouched; a doc
    losing everything survives empty."""
    from financial_knowledge_graphs_spark.operators.dedup import c4_span_dedup

    docs = spark.createDataFrame([
        (1, "s1. s2. s3. s4"),
        (2, "x. s1. s2. s3. y"),       # contains doc 1's leading span
        (3, "a. b"),                    # too short for any span
        (4, "s1. s2. s3. s4"),          # exact copy of doc 1
    ], "doc_id long, text string")
    got = {r["doc_id"]: r for r in c4_span_dedup(docs).collect()}
    assert got[1]["clean_text"] == "s1. s2. s3. s4"     # keeper, untouched
    assert got[1]["n_removed"] == 0
    assert got[2]["clean_text"] == "x. y"               # span removed
    assert got[2]["n_removed"] == 3
    assert got[3]["clean_text"] == "a. b"
    assert got[3]["n_removed"] == 0
    assert got[4]["clean_text"] == "" and got[4]["n_removed"] == 4
    assert got[4]["n_sentences"] == 4


def test_blocking_stage_purge_pairs_and_carry(spark):
    """The one blocking stage every pair emitter shares: a block of exactly
    max_block rows is kept, one of max_block + 1 is purged; a pair sharing
    two blocks comes back twice; carry columns arrive suffixed; id_a < id_b."""
    rows = spark.createDataFrame(
        [("x", 1, "t1"), ("x", 2, "t2"), ("x", 3, "t3"),        # 3 rows: kept
         ("y", 1, "t1"), ("y", 2, "t2"),                        # 2 rows: kept
         ("z", 4, "t4"), ("z", 5, "t5"), ("z", 6, "t6"), ("z", 7, "t7")],  # 4: purged
        "blk string, id long, tag string")
    kept = similarity.purge_blocks(rows, ["blk"], 3)
    assert sorted(r["blk"] for r in kept.collect()) == ["x"] * 3 + ["y"] * 2

    pairs = similarity.blocked_pairs(rows, "id", ["blk"], 3, carry=("tag",))
    assert pairs.columns == ["blk", "id_a", "tag_a", "id_b", "tag_b"]
    got = sorted((r["blk"], r["id_a"], r["id_b"], r["tag_a"], r["tag_b"])
                 for r in pairs.collect())
    assert got == [("x", 1, 2, "t1", "t2"), ("x", 1, 3, "t1", "t3"),
                   ("x", 2, 3, "t2", "t3"), ("y", 1, 2, "t1", "t2")]
    assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0


def _bad_block_calls(spark):
    from financial_knowledge_graphs_spark.operators import materialize
    from financial_knowledge_graphs_spark.operators.linking import (
        name_keys,
        similarity_edges,
    )

    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    keys = name_keys(spark.createDataFrame(
        [("Company", "Zeta Alpha"), ("Company", "Zeta Alpha Beta")], "type string, name string"))
    prior = spark.createDataFrame([], materialize._MAPPING_SCHEMA)
    return {
        "ngram_jaccard_pairs": lambda b: dedup.ngram_jaccard_pairs(docs, max_block=b),
        "similarity_edges": lambda b: similarity_edges(keys, max_block=b),
        "canonical_mapping_incremental": lambda b: materialize.canonical_mapping_incremental(
            prior, keys, max_block=b),
    }


@pytest.mark.parametrize("fn", ["ngram_jaccard_pairs", "similarity_edges",
                                "canonical_mapping_incremental"])
@pytest.mark.parametrize("bad", [0, -1, True, 2.5])
def test_max_block_rejected_before_any_job(spark, small_corpus, fn, bad):
    """A block cap that purges every block (0, negative) or is not an int
    raises a ValueError naming max_block before any Spark job runs, instead
    of silently returning no pairs, and leaves nothing cached."""
    call = _bad_block_calls(spark)[fn]
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup("bad-max-block", "max_block validation")
    try:
        with pytest.raises(ValueError, match="max_block"):
            call(bad)
        assert sc.statusTracker().getJobIdsForGroup("bad-max-block") == []
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        sc._jsc.clearJobGroup()
        small_corpus.cache()  # the session fixture's cache, cleared above


_BAD_LSH_KNOBS = {
    "lsh_bands_zero": (lambda d: dedup.lsh_candidate_pairs(d, bands=0), "bands"),
    "lsh_uneven_bands": (lambda d: dedup.lsh_candidate_pairs(d, num_perm=8, bands=3),
                         "multiple of bands"),
    "lsh_num_perm_zero": (lambda d: dedup.lsh_candidate_pairs(d, num_perm=0), "num_perm"),
    "minhash_bands_zero": (lambda d: dedup.minhash_dedup_pairs(d, bands=0), "bands"),
    "minhash_uneven_bands": (lambda d: dedup.minhash_dedup_pairs(d, num_perm=7, bands=2),
                             "multiple of bands"),
    "simhash_bits_33": (lambda d: d.select(dedup.simhash_expr(F.col("text"), bits=33)),
                        "bits"),
    "simhash_bits_zero": (lambda d: d.select(dedup.simhash_expr(F.col("text"), bits=0)),
                          "bits"),
    "simhash_pairs_bits_64": (lambda d: dedup.simhash_pairs(d, bits=64), "bits"),
    # n-gram lengths and windows: n=0 made every doc's only gram "" (every
    # pair Jaccard 1.0, every doc contaminated), n=-1 failed inside a job
    "ngram_jaccard_n_zero": (lambda d: dedup.ngram_jaccard_pairs(d, n=0), "n-gram length"),
    "minhash_n_negative": (lambda d: dedup.minhash_dedup_pairs(d, n=-1), "n-gram length"),
    "winnow_k_zero": (lambda d: text.winnow_fingerprints(d, k=0), "n-gram length"),
    "winnow_window_zero": (lambda d: text.winnow_fingerprints(d, window=0), "window"),
    "winnow_k_float": (lambda d: text.winnow_fingerprints(d, k=2.5), "n-gram length"),
    "shingles_n_bool": (lambda d: d.select(dedup.shingles_expr(F.col("text"), n=True)),
                        "n-gram length"),
    "decontaminate_n_zero": (lambda d: text.decontaminate(d, d, n=0), "n-gram length"),
    "ngram_repetition_top_n_zero": (lambda d: text.ngram_repetition_signals(d, top_n=0),
                                    "n-gram length"),
    # max_hamming=-1 divided by zero; max_hamming >= bits left empty segments
    "simhash_pairs_max_hamming_negative": (lambda d: dedup.simhash_pairs(d, max_hamming=-1),
                                           "max_hamming"),
    "simhash_pairs_max_hamming_32": (lambda d: dedup.simhash_pairs(d, max_hamming=32),
                                     "max_hamming"),
}


@pytest.mark.parametrize("case", list(_BAD_LSH_KNOBS))
def test_lsh_and_simhash_knobs_rejected_before_any_job(spark, small_corpus, case):
    """Band, bit, n-gram and window counts are checked where they enter, with
    a ValueError (an assert vanishes under ``python -O``; bands=0 divided by
    zero), before any job runs or anything is cached."""
    from financial_knowledge_graphs_spark.session import local_frame

    call, match = _BAD_LSH_KNOBS[case]
    docs = local_frame(spark, [("d1", "alpha beta gamma delta")],
                       "doc_id string, text string")
    sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setJobGroup("bad-lsh-knob", "lsh knob validation")
    try:
        with pytest.raises(ValueError, match=match):
            call(docs)
        assert sc.statusTracker().getJobIdsForGroup("bad-lsh-knob") == []
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        sc._jsc.clearJobGroup()
        small_corpus.cache()  # the session fixture's cache, cleared above


def test_embedding_near_dup_lsh_pairs_are_brute_force_pairs(spark):
    """Sign-LSH blocking only drops candidates: every LSH pair is a
    brute-force (unblocked) pair with the same cosine, and the planted
    near-duplicates are found."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(60)]
    rows += [(100 + i, [x + rng.gauss(0, 0.01) for x in rows[i][1]]) for i in range(5)]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    lsh = {(r["id_a"], r["id_b"]): r["cosine"] for r in dedup.embedding_near_dup_pairs_lsh(
        e, threshold=0.5, dim=16, n_planes=4, n_tables=4).collect()}
    brute = {(r["id_a"], r["id_b"]): r["cosine"] for r in dedup.embedding_near_dup_pairs(
        e, threshold=0.5, block_col=None).collect()}
    assert {(i, 100 + i) for i in range(5)} <= set(lsh)
    assert set(lsh) <= set(brute)
    assert all(lsh[p] == brute[p] for p in lsh)
