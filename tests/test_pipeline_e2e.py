"""End-to-end + resume tests (SURVEY.md §5.2 items 5-6): docs table →
triples table → evaluate vs fixture GT; partial run + resume == single run;
quality gate P/R ≥ 0.95 through the full evaluator."""

import pyspark.sql.functions as F

from financial_knowledge_graphs_spark import fixtures
from financial_knowledge_graphs_spark.operators import evaluate, materialize
from financial_knowledge_graphs_spark.pipeline import (
    PipelineConfig,
    graph_paths,
    run_pipeline,
)


def _docs_alias(spark, corpus, n_docs=300):
    return (
        fixtures.documents_df(corpus),
        fixtures.alias_dict_df(spark, max(20, n_docs // 20), 42),
    )


def test_pipeline_end_to_end_quality_gate(spark, small_corpus, tmp_warehouse):
    docs, alias = _docs_alias(spark, small_corpus)
    res = run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
    assert res.docs_processed > 0 and res.triples > 0

    triples = materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["triples"])
    pred = triples.select(
        "doc_id", F.col("subj_name").alias("subj"), "pred", F.col("obj_name").alias("obj")
    )
    gt = fixtures.gt_triples_df(small_corpus).select("doc_id", "subj", "pred", "obj")
    inter = pred.intersect(gt).count()
    assert inter / pred.count() >= 0.95
    assert inter / gt.count() >= 0.95

    # ops tables written
    from financial_knowledge_graphs_spark.ops import OpsStore
    import os
    ops = OpsStore(spark, os.path.join(tmp_warehouse, "ops"))
    assert ops.read("checkpoints").count() == res.docs_processed
    assert ops.read("metrics").filter(F.col("name") == "docs_per_sec").count() == 1

    # per-partition lineage COVERS every partition that produced docs
    # (north rule: per-partition lineage), and the counts reconcile
    lineage = ops.read("lineage")
    per_part = lineage.filter(F.col("partition_id") >= 0)
    cp_parts = {
        r["partition_id"]
        for r in ops.read("checkpoints").select("partition_id").distinct().collect()
    }
    ln_parts = {
        r["partition_id"] for r in per_part.select("partition_id").distinct().collect()
    }
    assert cp_parts == ln_parts and len(ln_parts) > 0
    total = per_part.agg(F.sum("output_rows")).first()[0]
    assert total == res.docs_processed


def test_partial_plus_resume_equals_single_run(spark, small_corpus, tmp_warehouse):
    import tempfile, shutil
    docs, alias = _docs_alias(spark, small_corpus)
    # partial (bounded batch), then resume to completion
    run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse, batch_size=120))
    run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))

    single = tempfile.mkdtemp(prefix="fkg_single_")
    try:
        run_pipeline(spark, docs, alias, PipelineConfig(warehouse=single))
        # triples equal INCLUDING canonical entity ids (min-norm-addressed
        # ids are stable across batch boundaries)
        key = ["doc_id", "subj", "subj_name", "pred", "obj", "obj_name"]
        a = materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["triples"]).select(*key)
        b = materialize.read_graph_table(spark, graph_paths(single)["triples"]).select(*key)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        # vertices: cumulative n_mentions after resume == single-run counts,
        # no stale duplicate entities (VERDICT r1 "what's wrong" #5)
        vkey = ["entity_id", "type", "companyName", "n_mentions"]
        va = materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["vertices"]).select(*vkey)
        vb = materialize.read_graph_table(spark, graph_paths(single)["vertices"]).select(*vkey)
        assert va.exceptAll(vb).count() == 0, "resumed vertices ⊄ single-run"
        assert vb.exceptAll(va).count() == 0, "single-run vertices ⊄ resumed"
    finally:
        shutil.rmtree(single, ignore_errors=True)


def test_full_evaluator_on_pipeline_output(spark, small_corpus, tmp_warehouse):
    """Score extraction docs against GT nested docs with the faithful
    greedy evaluator — P/R ≥ 0.95 (BASELINE.json gate)."""
    from financial_knowledge_graphs_spark.operators import extract, prep

    docs, alias = _docs_alias(spark, small_corpus)
    staged = prep.dedup_by_story(prep.quality_filter(prep.with_story(docs)))
    ext = extract.run_extraction(staged, extract.make_extract_udf(spark, alias))
    pred_json = ext.select(
        "doc_id", F.to_json(F.col("extraction")).alias("payload")
    )
    gt_json = fixtures.gt_extractions_df(small_corpus).select(
        "doc_id", F.to_json(F.struct("entities", "relationships")).alias("payload")
    )
    dm = evaluate.per_doc_metrics(pred_json, gt_json)
    m = evaluate.corpus_metrics(dm)
    assert m["entity_precision"] >= 0.95, m
    assert m["entity_recall"] >= 0.95, m
    assert m["relationship_precision"] >= 0.95, m
    assert m["relationship_recall"] >= 0.95, m
    assert m["overall_f1"] >= 0.95, m


def test_crash_between_materialize_and_checkpoint_converges(spark, small_corpus, tmp_warehouse):
    """Kill-mid-run semantics, deterministically: the riskiest crash window
    is after the graph tables were merged but before the docs were
    checkpointed (simulated by deleting the checkpoint table). The rerun
    re-processes everything; because merge_upsert is keyed-idempotent, the
    final tables equal a clean single run."""
    import os
    import shutil
    import tempfile

    docs, alias = _docs_alias(spark, small_corpus)
    run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
    # simulate crash: ops state lost after the merge landed
    shutil.rmtree(os.path.join(tmp_warehouse, "ops", "checkpoints"))
    res2 = run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
    assert res2.docs_processed > 0  # really did re-run

    clean_wh = tempfile.mkdtemp(prefix="fkg_clean_")
    try:
        run_pipeline(spark, docs, alias, PipelineConfig(warehouse=clean_wh))
        got = materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["triples"])
        want = materialize.read_graph_table(spark, graph_paths(clean_wh)["triples"])
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0
        # replay must NOT inflate cumulative mention counts (review r2-3:
        # the surface_mentions ledger absorbs the re-delivered batch)
        vkey = ["entity_id", "companyName", "n_mentions"]
        va = materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["vertices"]).select(*vkey)
        vb = materialize.read_graph_table(spark, graph_paths(clean_wh)["vertices"]).select(*vkey)
        assert va.exceptAll(vb).count() == 0
        assert vb.exceptAll(va).count() == 0
    finally:
        shutil.rmtree(clean_wh, ignore_errors=True)


def test_embedding_link_merges_typo_surfaces(spark):
    """Negative/positive control for kg_vertices_embedding (VERDICT r2 next
    #7): on the typo corpus, a space-dropped surface ("VertexTech") shares
    NO token with its company's other surfaces and is not contained in any,
    so token linking must split it into an extra entity; the char-n-gram
    embedding path (threshold 0.70 < within-typo cosine 0.738, dim=256)
    must merge it — entity count == company count and every typo surface's
    mentions land on its company's canonical entity."""
    import shutil
    import tempfile

    n_docs, n_comp = 120, 20
    corpus = fixtures.corpus_df(spark, n_docs, 42, n_comp, typos=True).cache()
    docs = fixtures.documents_df(corpus)
    alias = fixtures.alias_dict_df(spark, n_comp, 42, typos=True)

    gt_companies = (
        fixtures.gt_extractions_df(corpus)
        .select(F.explode("entities").alias("e"))
        .select(F.col("e.attributes.companyName").alias("c"))
        .distinct()
        .count()
    )

    wh_off = tempfile.mkdtemp(prefix="fkg_typo_off_")
    wh_on = tempfile.mkdtemp(prefix="fkg_typo_on_")
    try:
        run_pipeline(spark, docs, alias, PipelineConfig(warehouse=wh_off))
        v_off = materialize.read_graph_table(spark, graph_paths(wh_off)["vertices"])
        # token path provably cannot merge the fused-token typos
        assert v_off.count() > gt_companies

        run_pipeline(
            spark, docs, alias,
            PipelineConfig(warehouse=wh_on, embedding_link=True,
                           embedding_threshold=0.70),
        )
        v_on = materialize.read_graph_table(spark, graph_paths(wh_on)["vertices"])
        assert v_on.count() == gt_companies
        # exact per-company mention totals == GT totals (grouping is right,
        # not just the cardinality)
        gt_counts = (
            fixtures.gt_extractions_df(corpus)
            .select(F.explode("entities").alias("e"))
            .groupBy(F.col("e.attributes.companyName").alias("companyName"))
            .agg(F.count(F.lit(1)).alias("n_mentions"))
        )
        got = v_on.select("companyName", "n_mentions")
        assert got.exceptAll(gt_counts).count() == 0
        assert gt_counts.exceptAll(got).count() == 0
    finally:
        shutil.rmtree(wh_off, ignore_errors=True)
        shutil.rmtree(wh_on, ignore_errors=True)


def test_link_config_drift_forces_full_relink(spark):
    """A linking-config change between batches forces ONE full
    re-canonicalization (r3 review finding: the anchored incremental path
    never re-verifies old↔old pairs, so flipping embedding_link on would
    otherwise leave previously-split typo surfaces stale forever — even a
    resume no-op batch must relink when the persisted fingerprint drifts)."""
    import shutil
    import tempfile

    n_docs, n_comp = 120, 20
    corpus = fixtures.corpus_df(spark, n_docs, 42, n_comp, typos=True).cache()
    docs = fixtures.documents_df(corpus)
    alias = fixtures.alias_dict_df(spark, n_comp, 42, typos=True)
    gt_companies = (
        fixtures.gt_extractions_df(corpus)
        .select(F.explode("entities").alias("e"))
        .select(F.col("e.attributes.companyName").alias("c"))
        .distinct()
        .count()
    )

    wh = tempfile.mkdtemp(prefix="fkg_drift_")
    try:
        r1 = run_pipeline(spark, docs, alias, PipelineConfig(warehouse=wh))
        assert r1.extra["link_config_relink"] is False
        v1 = materialize.read_graph_table(spark, graph_paths(wh)["vertices"])
        assert v1.count() > gt_companies  # token-only linking splits typos

        # same docs — every one checkpointed, so absent the drift gate this
        # would short-circuit as a resume no-op — but a NEW linking config
        r2 = run_pipeline(
            spark, docs, alias,
            PipelineConfig(warehouse=wh, embedding_link=True,
                           embedding_threshold=0.70),
        )
        assert r2.extra["link_config_relink"] is True
        assert r2.docs_processed == 0
        v2 = materialize.read_graph_table(spark, graph_paths(wh)["vertices"])
        assert v2.count() == gt_companies
        # triples follow the merged ids: no endpoint references a retired id
        live = {r["entity_id"] for r in v2.select("entity_id").collect()}
        t2 = materialize.read_graph_table(spark, graph_paths(wh)["triples"])
        eps = (
            t2.select(F.col("subj").alias("e"))
            .unionByName(t2.select(F.col("obj").alias("e")))
            .distinct()
        )
        assert {r["e"] for r in eps.collect()} <= live

        # unchanged config → fingerprint matches, no relink
        r3 = run_pipeline(
            spark, docs, alias,
            PipelineConfig(warehouse=wh, embedding_link=True,
                           embedding_threshold=0.70),
        )
        assert r3.extra["link_config_relink"] is False
    finally:
        shutil.rmtree(wh, ignore_errors=True)


def test_merge_on_read_pipeline_equals_cow(spark, small_corpus, tmp_warehouse):
    """merge_mode='mor' (Iceberg v2 merge-on-read) must be invisible at the
    content level: a batched MOR run — whose re-canonicalizations exercise
    the equality-delete path on vertices/triples/mapping — reads back
    identical to a single-run COW warehouse."""
    import shutil
    import tempfile

    docs, alias = _docs_alias(spark, small_corpus)
    run_pipeline(spark, docs, alias, PipelineConfig(
        warehouse=tmp_warehouse, batch_size=120, merge_mode="mor"))
    run_pipeline(spark, docs, alias, PipelineConfig(
        warehouse=tmp_warehouse, merge_mode="mor"))

    single = tempfile.mkdtemp(prefix="fkg_cow_")
    try:
        run_pipeline(spark, docs, alias, PipelineConfig(warehouse=single))
        key = ["doc_id", "subj", "subj_name", "pred", "obj", "obj_name"]
        a = materialize.read_graph_table(
            spark, graph_paths(tmp_warehouse)["triples"]).select(*key)
        b = materialize.read_graph_table(
            spark, graph_paths(single)["triples"]).select(*key)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        vkey = ["entity_id", "type", "companyName", "n_mentions"]
        va = materialize.read_graph_table(
            spark, graph_paths(tmp_warehouse)["vertices"]).select(*vkey)
        vb = materialize.read_graph_table(
            spark, graph_paths(single)["vertices"]).select(*vkey)
        assert va.exceptAll(vb).count() == 0
        assert vb.exceptAll(va).count() == 0
    finally:
        shutil.rmtree(single, ignore_errors=True)


def test_symmetric_swap_total_order(spark):
    """Symmetric predicates must canonicalize BOTH orientations of a fact
    to one row even when canon names are NULL or tie across distinct
    entities — name order alone is partial (NULL > x is NULL; ties never
    swap), so the swap tie-breaks on entity id."""
    from financial_knowledge_graphs_spark.operators.materialize import (
        build_triples,
    )

    mentions = spark.createDataFrame(
        [("d1", "e1", "Company", "Aco", None, None, None, None),
         ("d1", "e2", "Company", "Bco", None, None, None, None),
         ("d2", "e1", "Company", "Bco", None, None, None, None),
         ("d2", "e2", "Company", "Aco", None, None, None, None)],
        "doc_id string, local_id string, type string, name string, "
        "companyName string, ticker string, industry string, country string")
    mapping = spark.createDataFrame(
        [("Company", "Aco", 1, "ENT_A", "aco"),
         ("Company", "Bco", 1, "ENT_B", "bco")],
        "type string, name string, comp long, entity_id string, norm string")
    # same fact in both orientations, one per doc; canon names are NULL
    raw = spark.createDataFrame(
        [("d1", "r1", "partnerswith", "e1", "e2", None, None, None),
         ("d2", "r1", "partnerswith", "e1", "e2", None, None, None)],
        "doc_id string, local_id string, pred string, src_local string, "
        "tgt_local string, valueAmount double, percentage double, "
        "transactionDate string")
    # d1: e1=Aco(ENT_A) -> e2=Bco(ENT_B); d2: e1=Bco(ENT_B) -> e2=Aco(ENT_A)
    triples, dropped, joined = build_triples(raw, mentions, mapping)
    rows = {(r["subj"], r["obj"]) for r in triples.collect()}
    joined.unpersist()
    assert rows == {("ENT_A", "ENT_B")}, rows  # one orientation, both docs


def test_cached_plan_shuffle_coalesces_to_batch_size(spark):
    """A persisted frame's shuffle is coalesced by AQE like any other: a
    groupBy over ~100 rows must not keep the session's static shuffle
    partitions (8 here, 64 in production) in the stages that read it. The
    input has two partitions (one would need no exchange at all), so every
    stage of the group runs at most two tasks only if the cached plan's
    exchange was coalesced."""
    sc = spark.sparkContext
    df = spark.range(0, 100, 1, numPartitions=2).groupBy(
        (F.col("id") % 10).alias("k")
    ).agg(F.count(F.lit(1)).alias("n")).persist()
    sc.setJobGroup("cached-coalesce", "cached plan coalescing")
    try:
        assert df.count() == 10
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup("cached-coalesce")
        stage_tasks = {
            sid: tracker.getStageInfo(sid).numTasks
            for jid in job_ids
            for sid in tracker.getJobInfo(jid).stageIds
            if tracker.getStageInfo(sid) is not None
        }
    finally:
        sc._jsc.clearJobGroup()
        df.unpersist()
    assert job_ids and stage_tasks
    assert max(stage_tasks.values()) <= 2, stage_tasks


def test_fused_triple_counts_equal_separate_counts(spark, small_corpus, tmp_warehouse,
                                                   monkeypatch):
    """res.triples, offvocab_triples and dropped_endpoint_rows come from one
    aggregate over the persisted triples plus the dropped count; they must
    equal the three separate counts. The batch is seeded with off-vocabulary
    preds and unmapped endpoints so all three are exercised."""
    from financial_knowledge_graphs_spark import schemas
    from financial_knowledge_graphs_spark.operators import constraints, extract

    real_raw = extract.raw_triples_df
    real_build = materialize.build_triples

    def raw_with_faults(extracted):
        raw = real_raw(extracted)
        pick = raw.filter(F.abs(F.hash("doc_id", "local_id")) % 5 == 0)
        offvocab = pick.withColumn("pred", F.concat(F.lit("novelPred_"), "local_id"))
        dangling = pick.withColumn("src_local", F.lit("no_such_mention"))
        return raw.unionByName(
            offvocab.withColumn("local_id", F.concat("local_id", F.lit("_ov")))
        ).unionByName(
            dangling.withColumn("local_id", F.concat("local_id", F.lit("_dg")))
        )

    separate = {}

    def build_and_count(raw_triples, mentions, mapping):
        triples, dropped, joined = real_build(raw_triples, mentions, mapping)
        vocab = {"pred": list(schemas.PREDICATES)}
        separate["triples"] = constraints.domain_filter(triples, vocab).count()
        separate["offvocab"] = constraints.domain_violations(triples, vocab).count()
        separate["dropped"] = dropped.count()
        return triples, dropped, joined

    monkeypatch.setattr(extract, "raw_triples_df", raw_with_faults)
    monkeypatch.setattr(materialize, "build_triples", build_and_count)
    docs, alias = _docs_alias(spark, small_corpus)
    res = run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
    assert separate["offvocab"] > 0 and separate["dropped"] > 0
    assert res.triples == separate["triples"]
    assert res.extra["offvocab_triples"] == separate["offvocab"]
    assert res.dropped_endpoint_rows == separate["dropped"]
    # only in-vocabulary triples reach the graph table
    stored = materialize.read_graph_table(spark, graph_paths(tmp_warehouse)["triples"])
    assert stored.count() == separate["triples"]


def test_failed_merge_releases_batch_caches(spark, small_corpus, tmp_warehouse,
                                            monkeypatch):
    """A batch whose vertices merge raises must still unpersist every frame
    it cached: a retry in the same session (stream_build_graph's replay)
    would otherwise run beside the failed batch's caches."""
    import os

    import pytest

    real_merge = materialize.merge_upsert

    def merge_failing_on_vertices(spark_, path, *a, **k):
        if os.path.basename(os.path.normpath(path)) == "vertices":
            raise OSError("injected vertices merge failure")
        return real_merge(spark_, path, *a, **k)

    monkeypatch.setattr(materialize, "merge_upsert", merge_failing_on_vertices)
    docs, alias = _docs_alias(spark, small_corpus)
    spark.catalog.clearCache()
    try:
        with pytest.raises(OSError, match="injected"):
            run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        small_corpus.cache()  # the session fixture's cache, cleared above



def _fail_mapping_merge(monkeypatch):
    """Make the mapping-table merge raise: the crash point after the graph
    merges and before the mapping commits ("mapping table LAST")."""
    import os

    real_merge = materialize.merge_upsert

    def merge_failing_on_mapping(spark_, path, *a, **k):
        if os.path.basename(os.path.normpath(path)) == "mapping":
            raise OSError("injected mapping merge failure")
        return real_merge(spark_, path, *a, **k)

    monkeypatch.setattr(materialize, "merge_upsert", merge_failing_on_mapping)


def _nested_name_batches(spark, monkeypatch):
    """The 300-doc fixture with company 5 renamed to company 4's base plus
    " Labs" ("Vertex Tech Labs" next to "Vertex Tech"): the two link, and
    the merged entity's id is addressed on company 4's shorter norm. The
    first batch is every extractable doc that does not mention company 4,
    so its "vertex tech labs" entity id retires once company 4 arrives.
    Returns (first-batch docs, all docs, alias dict)."""
    real = fixtures.make_companies

    def companies(n, seed=42):
        cs = real(n, seed)
        cs[5]["base"] = cs[4]["base"] + " Labs"
        cs[5]["canonical"] = f"{cs[5]['base']} {cs[5]['suffix']}"
        return cs

    with monkeypatch.context() as m:
        m.setattr(fixtures, "make_companies", companies)
        corpus = fixtures.corpus_df(spark, n_docs=300, seed=42)
        alias = fixtures.alias_dict_df(spark, 20, 42)
        shorter = companies(20, 42)[4]["canonical"]
    # only docs that pass prep, so no dedup original is left behind
    first = corpus.filter(F.col("has_gt") & ~F.exists(
        "entities", lambda e: e["attributes"]["companyName"] == shorter))
    return fixtures.documents_df(first), fixtures.documents_df(corpus), alias


def _assert_equals_single_run(spark, wh, docs, alias):
    """Triples (ids included) and vertices (entity_id, companyName,
    n_mentions) of ``wh`` equal a clean single run's."""
    import shutil
    import tempfile

    single = tempfile.mkdtemp(prefix="fkg_single_")
    try:
        run_pipeline(spark, docs, alias, PipelineConfig(warehouse=single))
        for table, cols in (("triples", None),
                            ("vertices", ["entity_id", "companyName", "n_mentions"])):
            a = materialize.read_graph_table(spark, graph_paths(wh)[table])
            b = materialize.read_graph_table(spark, graph_paths(single)[table])
            if cols:
                a, b = a.select(*cols), b.select(*cols)
            assert a.count() == b.count(), table
            assert a.exceptAll(b).count() == 0, table
            assert b.exceptAll(a).count() == 0, table
    finally:
        shutil.rmtree(single, ignore_errors=True)


def _vertex_ids(spark, wh):
    return {r["entity_id"] for r in materialize.read_graph_table(
        spark, graph_paths(wh)["vertices"]).select("entity_id").collect()}


def test_first_batch_failed_mapping_merge_replays_full_relink(
        spark, tmp_warehouse, monkeypatch):
    """The first batch commits triples and vertices, then its mapping merge
    fails. With no mapping table, the replay (now over every doc) takes the
    full relink of the whole ledger and remaps retired ids from the prior
    vertices' representative surfaces; it must converge to a clean single
    run."""
    import pytest

    first, docs, alias = _nested_name_batches(spark, monkeypatch)
    paths = graph_paths(tmp_warehouse)
    _fail_mapping_merge(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        run_pipeline(spark, first, alias, PipelineConfig(warehouse=tmp_warehouse))
    monkeypatch.undo()
    assert not materialize.table_exists(paths["mapping"])
    first_ids = _vertex_ids(spark, tmp_warehouse)
    res = run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
    assert res.docs_processed == res.extra["docs_prepared"]  # none checkpointed
    assert first_ids - _vertex_ids(spark, tmp_warehouse)  # the replay retired an id
    _assert_equals_single_run(spark, tmp_warehouse, docs, alias)


def test_incremental_batch_failed_mapping_merge_replays_remap(
        spark, tmp_warehouse, monkeypatch):
    """An incremental batch that retires an id commits the rewritten
    triples and the tombstoned vertices, then its mapping merge fails. The
    replay re-derives the same old → new remap from the unchanged mapping
    table and must converge to a clean single run."""
    import pytest

    first, docs, alias = _nested_name_batches(spark, monkeypatch)
    run_pipeline(spark, first, alias, PipelineConfig(warehouse=tmp_warehouse))
    first_ids = _vertex_ids(spark, tmp_warehouse)
    _fail_mapping_merge(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
    monkeypatch.undo()
    # the failed batch retired a first-batch id (its vertices merge
    # tombstoned it) before the mapping merge raised
    assert first_ids - _vertex_ids(spark, tmp_warehouse)
    run_pipeline(spark, docs, alias, PipelineConfig(warehouse=tmp_warehouse))
    _assert_equals_single_run(spark, tmp_warehouse, docs, alias)


def test_full_relink_with_no_surfaces_commits_empty_mapping(spark, small_corpus,
                                                            tmp_warehouse):
    """A first batch whose docs yield no mention still commits the mapping
    table (with no rows), so the next batch links incrementally."""
    docs, alias = _docs_alias(spark, small_corpus)
    res = run_pipeline(spark, docs, alias.filter(F.lit(False)),
                       PipelineConfig(warehouse=tmp_warehouse, batch_size=20))
    assert res.docs_processed > 0 and res.mentions == 0
    mapping = graph_paths(tmp_warehouse)["mapping"]
    assert materialize.table_exists(mapping)
    assert materialize.read_graph_table(spark, mapping).count() == 0
