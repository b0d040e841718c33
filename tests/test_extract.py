"""Extraction-stage tests: gazetteer matching, relation patterns, attribute
capture, from_json degrade path (SURVEY.md §5.2 item 2)."""

import pyspark.sql.functions as F

from financial_knowledge_graphs_spark import fixtures
from financial_knowledge_graphs_spark.operators import extract, prep
from financial_knowledge_graphs_spark.operators.extract import Gazetteer, extract_document

ALIAS_ROWS = [
    ("Alpha Systems Inc.", "Alpha Systems Inc.", "AS1", "Technology", "USA"),
    ("Alpha Systems", "Alpha Systems Inc.", "AS1", "Technology", "USA"),
    ("Beta Capital", "Beta Capital Ltd", "BC2", "Banking", "UK"),
    ("Gamma Energy", "Gamma Energy Corp", "GE3", "Energy", "Germany"),
]


def gaz():
    return Gazetteer(ALIAS_ROWS)


def test_mention_longest_match_and_dedup():
    text = "Alpha Systems Inc. and Alpha Systems both rallied; Beta Capital fell."
    d = extract_document(text, gaz())
    names = [(e["id"], e["attributes"]["companyName"]) for e in d["entities"]]
    # two surfaces of the same company -> one entity, first surface kept
    assert names == [("C1", "Alpha Systems Inc."), ("C2", "Beta Capital Ltd")]
    assert d["entities"][0]["name"] == "Alpha Systems Inc."


def test_acquired_with_money_and_date():
    text = "Alpha Systems acquired Beta Capital for $2.5 billion on 2024-03-15."
    d = extract_document(text, gaz())
    (r,) = d["relationships"]
    assert r["type"] == "acquired"
    assert r["attributes"]["valueAmount"] == 2.5e9
    assert r["attributes"]["transactionDate"] == "2024-03-15"


def test_equity_stake_and_partial_date_merge():
    t1 = "Beta Capital holds a 17.5% equity stake in Gamma Energy."
    d1 = extract_document(t1, gaz())
    assert d1["relationships"][0]["type"] == "hasEquityStakeIn"
    assert d1["relationships"][0]["attributes"]["percentage"] == 17.5

    t2 = "Alpha Systems merged with Gamma Energy on 2023-07."
    d2 = extract_document(t2, gaz())
    assert d2["relationships"][0]["type"] == "mergedWith"
    assert d2["relationships"][0]["attributes"]["transactionDate"] == "2023-07"


def test_merge_tail_shares_the_surface_period():
    """An alias ending in "." can take the period that ends a date-less
    merge sentence; the merge is still extracted, and a dated tail after
    such a surface keeps its date."""
    g = Gazetteer([
        ("Juniper Tech LLC", "Juniper Tech LLC", "JT", "Technology", "USA"),
        ("Pinnacle Industries Inc", "Pinnacle Industries Inc.", "PI", "Energy", "USA"),
        ("Pinnacle Industries Inc.", "Pinnacle Industries Inc.", "PI", "Energy", "USA"),
    ])
    for text in ("Juniper Tech LLC merged with Pinnacle Industries Inc.",
                 "Juniper Tech LLC merged with Pinnacle Industries Inc. Shares rose."):
        (r,) = extract_document(text, g)["relationships"]
        assert r["type"] == "mergedWith"
        assert r["attributes"]["transactionDate"] is None
    dated = "Juniper Tech LLC merged with Pinnacle Industries Inc. on 2023-07."
    (r,) = extract_document(dated, g)["relationships"]
    assert r["attributes"]["transactionDate"] == "2023-07"


def test_debt_holder_direction():
    # "B is a debt holder of A" => (A, hasDebtHolder, B)
    text = "Beta Capital is a debt holder of Alpha Systems, holding notes worth $300 million."
    d = extract_document(text, gaz())
    (r,) = d["relationships"]
    assert r["type"] == "hasDebtHolder"
    src = next(e for e in d["entities"] if e["id"] == r["source"])
    tgt = next(e for e in d["entities"] if e["id"] == r["target"])
    assert src["attributes"]["companyName"] == "Alpha Systems Inc."
    assert tgt["attributes"]["companyName"] == "Beta Capital Ltd"
    assert r["attributes"]["valueAmount"] == 3e8


def test_no_mentions_no_relationships():
    d = extract_document("Nothing about known companies here.", gaz())
    assert d == {"entities": [], "relationships": []}


def test_from_json_degrades_to_empty(spark):
    """A UDF payload that is not valid JSON must degrade to empty arrays
    (reference src/utils/batch_utils.py:358-359), exercised through
    run_extraction with an identity 'extractor'."""
    df = spark.createDataFrame([("d1", "not json at all")],
                               "doc_id string, story string")
    identity_udf = F.pandas_udf(lambda s: s, "string")
    parsed = extract.run_extraction(df, identity_udf)
    row = parsed.select("extraction").first()["extraction"]
    assert list(row["entities"]) == [] and list(row["relationships"]) == []


def test_corpus_extraction_matches_gt_exactly(spark, small_corpus):
    """Extraction over the fixture corpus reproduces GT triples (canonical
    names) with P/R ≥ 0.95 — the BASELINE.json quality gate, checked here
    on exact canonical keys (stricter than the fuzzy evaluator)."""
    docs = fixtures.documents_df(small_corpus)
    staged = prep.dedup_by_story(prep.quality_filter(prep.with_story(docs)))
    alias = fixtures.alias_dict_df(spark, max(20, 300 // 20), 42)
    ext = extract.run_extraction(staged, extract.make_extract_udf(spark, alias))
    m = extract.mentions_df(ext)
    t = extract.raw_triples_df(ext)
    mm = m.select("doc_id", "local_id", "companyName")
    pred = (
        t.join(mm.withColumnRenamed("local_id", "src_local").withColumnRenamed("companyName", "subj"), ["doc_id", "src_local"])
        .join(mm.withColumnRenamed("local_id", "tgt_local").withColumnRenamed("companyName", "obj"), ["doc_id", "tgt_local"])
        .select(
            "doc_id",
            F.when(F.lower("pred").isin("mergedwith", "partnerswith") & (F.col("subj") > F.col("obj")), F.col("obj")).otherwise(F.col("subj")).alias("s"),
            "pred",
            F.when(F.lower("pred").isin("mergedwith", "partnerswith") & (F.col("subj") > F.col("obj")), F.col("subj")).otherwise(F.col("obj")).alias("o"),
        )
    )
    gt = fixtures.gt_triples_df(small_corpus).select(
        "doc_id", F.col("subj").alias("s"), "pred", F.col("obj").alias("o")
    )
    inter = pred.intersect(gt).count()
    p_cnt, g_cnt = pred.count(), gt.count()
    assert inter / p_cnt >= 0.95, f"precision {inter / p_cnt}"
    assert inter / g_cnt >= 0.95, f"recall {inter / g_cnt}"
