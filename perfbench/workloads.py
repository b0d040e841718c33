"""The benchmark's workloads. Each one builds its inputs from the seed, times
its operations, checks the outputs and returns a ``Result``.

- ``neardup_ops``: the registered near-dup, text and time-series operator
  queries on the fixed tables under ``perfbench/data``, each checked
  against its DuckDB oracle.
- ``ingest``: a doc_id prefix of a seeded fixture corpus is loaded into an
  empty warehouse as one cold batch, then the warehouse is queried: vertex
  point lookups, 1-hop neighbourhoods, degree / 2-hop / PageRank / BFS and
  extraction evaluation. The traced run then ingests the whole corpus as
  an incremental batch on top and checks the resume contract.

The engine is used only through its public functions; spans come from
``spans.Tracer`` wrappers installed by this module when tracing is on.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass, field

from spans import EventLog, TableWatch, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")

NEARDUP_QUERIES = (
    "q_minhash_lsh", "q_ngram_jaccard", "kg_simhash_pairs", "q_ann_topk",
    "q_embedding_neardup", "q_embedding_neardup_lsh", "q_decontaminate",
    "q_ngram_repetition", "q_c4_span_dedup", "q_tfidf_top_terms",
    "q_asof_join", "q_sessionize", "q_rolling_agg",
)
GRAPH_TABLES = ("surface_mentions", "vertices", "triples", "mapping")
PHASES = ("setup", "extract", "ledger_merge", "canonicalize",
          "counts_and_merges", "ops_tail", "metrics_tail")
SPARK_COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms",
                  "executor_cpu_ms", "gc_ms", "shuffle_write_bytes",
                  "spill_bytes", "unattributed_jobs")
PR_GATE = 0.95     # triple precision / recall and eval F1 floor

# resume_check costs one more full pipeline batch; at full size it would
# push a traced ingest run towards three minutes on four cores, so the
# contract is checked at smoke size (the benchmark's own tests).
SIZES = {
    "full": {"n_docs": 2000, "cold_docs": 1800, "lookups": 30,
             "neighbors": 10, "queries": NEARDUP_QUERIES, "resume_check": False},
    "smoke": {"n_docs": 120, "cold_docs": 100, "lookups": 3,
              "neighbors": 2, "queries": NEARDUP_QUERIES[:3], "resume_check": True},
}


def _per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in output order."""
    spec = [("session.start_s", "s", "lower"),
            ("memory.peak_rss_mb", "MB", "lower"),
            ("trace.run_s", "s", "lower"),
            ("trace.spans", "count", "lower")]
    for b in ("cold", "incr"):
        spec += [(f"pipeline.{b}.{p}_s", "s", "lower") for p in PHASES]
        spec += [(f"spark.{b}.{c}", "bytes" if c.endswith("bytes") else
                  "ms" if c.endswith("_ms") else "count", "lower")
                 for c in SPARK_COUNTERS]
        spec += [(f"ingest.{b}_s", "s", "lower"),
                 (f"ingest.{b}_docs_per_s", "1/s", "higher")]
    for s in ("analyze", "neardup"):
        spec += [(f"spark.{s}.jobs", "count", "lower"),
                 (f"spark.{s}.tasks", "count", "lower"),
                 (f"spark.{s}.executor_run_ms", "ms", "lower"),
                 (f"spark.{s}.unattributed_jobs", "count", "lower")]
    spec += [("extract.python_run_ms", "ms", "lower"),
             ("extract.python_start_ms", "ms", "lower"),
             ("extract.us_per_doc", "us", "lower")]
    for fn in ("canonical_mapping", "canonical_mapping_incremental",
               "connected_components", "similarity_edges"):
        spec += [(f"linking.{fn}.self_s", "s", "lower"),
                 (f"linking.{fn}.jobs", "count", "lower")]
    spec.append(("canonicalize.touched_frac", "ratio", "lower"))
    for t in GRAPH_TABLES:
        spec += [(f"materialize.merge_s.{t}", "s", "lower"),
                 (f"materialize.merge_jobs.{t}", "count", "lower"),
                 (f"materialize.buckets_rewritten.{t}", "count", "lower"),
                 (f"materialize.buckets_appended.{t}", "count", "lower"),
                 (f"materialize.bytes_written.{t}", "bytes", "lower"),
                 (f"materialize.files_written.{t}", "count", "lower")]
    spec += [("materialize.lookup_ms", "ms", "lower"),
             ("materialize.lookup_jobs", "count", "lower"),
             ("materialize.files_per_lookup", "count", "lower"),
             ("materialize.read_graph_table_s", "s", "lower"),
             ("ops.calls", "count", "lower"), ("ops.s", "s", "lower"),
             ("ops.jobs", "count", "lower"),
             ("ops.files_appended", "count", "lower"),
             ("graph.neighbors_ms", "ms", "lower"),
             ("graph.degree_s", "s", "lower"), ("graph.two_hop_s", "s", "lower"),
             ("graph.pagerank_s", "s", "lower"), ("graph.bfs_s", "s", "lower"),
             ("evaluate.s", "s", "lower"),
             ("evaluate.docs_per_s", "1/s", "higher"),
             ("analyze.s", "s", "lower"),
             ("analyze.point_ms", "ms", "lower"),
             ("analyze.point_p75_ms", "ms", "lower"),
             ("quality.triple_precision", "ratio", "higher"),
             ("quality.triple_recall", "ratio", "higher"),
             ("quality.eval_f1", "ratio", "higher"),
             ("storage.graph_bytes_per_triple", "bytes", "lower")]
    spec += [(f"{q}.s", "s", "lower") for q in NEARDUP_QUERIES]
    spec += [("dedup.minhash_candidates", "count", "lower"),
             ("dedup.minhash_pairs", "count", "higher")]
    return spec


PER_LAYER = _per_layer_spec()
PER_LAYER_UNITS = {n: u for n, u, _ in PER_LAYER}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    run_samples: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)
    samples: dict[str, list[float]] = field(default_factory=dict)
    # extra end-to-end readings printed in the report: name -> (value, unit, n)
    report: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    notes: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        if not ok:
            self.problems.append(what)
        return ok

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1

    def add(self, name: str, value: float) -> None:
        """One per-cycle reading; the run reports the median over cycles."""
        self.samples.setdefault(name, []).append(float(value))

    def per_layer(self) -> dict[str, float]:
        out = {n: 0.0 for n, _, _ in PER_LAYER}
        out.update(self.layer)
        out.update({k: median(v) for k, v in self.samples.items()})
        return out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p75(xs: list[float]) -> float:
    return float(statistics.quantiles(xs, n=4)[2]) if len(xs) >= 2 else median(xs)


def canon(pdf):
    """Order-insensitive canonical form of a result frame: sorted columns,
    numbers as float64, everything else as strings, rows sorted."""
    import pandas as pd

    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pd.api.types.is_numeric_dtype(pdf[c]):
            pdf[c] = pdf[c].astype("float64")
        else:
            pdf[c] = pdf[c].map(lambda v: None if v is None else str(v))
    return pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)


def same_frame(a, b) -> bool:
    a, b = canon(a), canon(b)
    return list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)


def timed_loop(seconds: float, cycle) -> None:
    """Run ``cycle`` at least once and until ``seconds`` have elapsed."""
    end = time.time() + seconds
    while True:
        cycle()
        if time.time() >= end:
            return


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

class Ingest:
    """Timed cycle: a cold batch into an empty warehouse, then interactive
    reads on it (vertex point lookups and 1-hop neighbourhoods). The traced
    run adds, after timing, the batch analytics (degree, 2-hop, PageRank,
    BFS, evaluate), an incremental batch on the same warehouse and the
    resume-contract check."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int, size: dict,
                 res: Result):
        from financial_knowledge_graphs_spark import fixtures
        from pyspark.sql import functions as F

        self.spark, self.tracer, self.work = spark, tracer, work
        self.seed, self.size, self.res = seed, size, res
        self.F = F
        t0 = time.time()
        n_docs = size["n_docs"]
        self.corpus = fixtures.corpus_df(spark, n_docs=n_docs, seed=seed).persist()
        # the pipeline reads its documents from a table, as in production
        fixtures.documents_df(self.corpus).write.parquet(os.path.join(work, "documents"))
        self.docs = spark.read.parquet(os.path.join(work, "documents"))
        # write_corpus's company count for this corpus size
        self.alias = fixtures.alias_dict_df(spark, max(20, n_docs // 20), seed).persist()
        # batches are doc_id prefixes: a deterministic doc set on every run
        self.cold_bound = f"doc_{size['cold_docs']:08d}"
        self.docs_cold = self.docs.filter(F.col("doc_id") < self.cold_bound)
        gt = fixtures.gt_triples_df(self.corpus).select(
            "doc_id", "subj", "pred", "obj").toPandas()
        self.gt_all = set(map(tuple, gt.itertuples(index=False, name=None)))
        self.gt_cold = {t for t in self.gt_all if t[0] < self.cold_bound}
        res.notes.append(f"setup: corpus of {n_docs} docs and its ground truth "
                         f"made in {time.time() - t0:.2f} s")
        self.n_cycles = 0

    def paths(self, cycle) -> dict:
        from financial_knowledge_graphs_spark.pipeline import graph_paths

        return graph_paths(os.path.join(self.work, f"warehouse_{cycle}"))

    # -- one timed cycle ---------------------------------------------------
    def cycle(self) -> None:
        self.n_cycles += 1
        paths = self.paths(self.n_cycles)
        cold_s = self._batch("cold", self.docs_cold, paths)
        a = self._point_queries(paths)
        self.res.run_samples.append(cold_s + a["s"])
        self._check_triples(a["tpdf"], self.gt_cold, "cold")
        self._check_point_queries(a)
        points = a["lookup_ms"] + a["neighbors_ms"]
        add, R = self.res.add, self.res.report
        add("analyze.s", a["s"])
        add("analyze.point_ms", median(points))
        add("analyze.point_p75_ms", p75(points))
        add("materialize.lookup_ms", median(a["lookup_ms"]))
        add("materialize.read_graph_table_s", a["open_s"])
        add("graph.neighbors_ms", median(a["neighbors_ms"]))
        add("storage.graph_bytes_per_triple", _bytes_per_triple(paths))
        R["read_s"] = (a["s"], "s", 1)
        R["point_ms"] = (median(points), "ms", len(points))
        R["point_p75_ms"] = (p75(points), "ms", len(points))
        R["graph_bytes_per_triple"] = (self.res.samples["storage.graph_bytes_per_triple"][-1],
                                       "bytes", 1)

    def _batch(self, label: str, docs, paths: dict) -> float:
        from financial_knowledge_graphs_spark.pipeline import PipelineConfig, run_pipeline

        wh = os.path.dirname(os.path.dirname(paths["triples"]))
        watch = {t: TableWatch(_materialize(), paths[t]) for t in GRAPH_TABLES}
        ops_files = _count_files(os.path.join(wh, "ops"))
        t0 = time.time()
        with self.tracer.span(f"batch.{label}", section=True):
            out = run_pipeline(self.spark, docs, self.alias, PipelineConfig(warehouse=wh))
        dt = time.time() - t0
        self.res.op(True)
        add = self.res.add
        add(f"ingest.{label}_s", dt)
        add(f"ingest.{label}_docs_per_s", out.docs_processed / dt)
        phases = out.extra.get("phase_seconds", {})
        for p in PHASES:
            add(f"pipeline.{label}.{p}_s", phases.get(p, 0.0))
        # the traced run's incremental batch overwrites the cold batch's count
        self.res.layer["ops.files_appended"] = (
            _count_files(os.path.join(wh, "ops")) - ops_files)
        deltas = {t: w.delta() for t, w in watch.items()}
        if label == "incr":
            for t, d in deltas.items():
                for k in ("buckets_rewritten", "buckets_appended",
                          "bytes_written", "files_written"):
                    self.res.layer[f"materialize.{k}.{t}"] = d[k]
        self.mapping_sid_before = deltas["mapping"]["snapshot_before"]
        self.res.report[f"{label}_batch_s"] = (dt, "s", 1)
        self.res.report[f"{label}_docs_per_s"] = (out.docs_processed / dt, "1/s", 1)
        self.res.notes.append(
            f"{label} batch: {out.docs_in} docs in, {out.docs_processed} processed, "
            f"{out.triples} triples, {dt:.2f} s, phases {phases}")
        return dt

    # -- interactive reads ----------------------------------------------------
    def _point_queries(self, paths: dict) -> dict:
        from financial_knowledge_graphs_spark.operators import graph
        from financial_knowledge_graphs_spark.operators.materialize import (
            lookup_by_key, read_graph_table,
        )

        spark = self.spark
        rng = random.Random(f"perfbench:{self.seed}:{self.n_cycles}")
        # expected rows and query keys come from untimed full reads
        vpdf = read_graph_table(spark, paths["vertices"]).toPandas()
        tpdf = read_graph_table(spark, paths["triples"]).toPandas()
        keys = rng.sample(sorted(vpdf["entity_id"]), min(self.size["lookups"], len(vpdf)))
        names = rng.sample(sorted(set(tpdf["subj_name"]) | set(tpdf["obj_name"])),
                           self.size["neighbors"])
        a = {"vpdf": vpdf, "tpdf": tpdf, "keys": keys, "names": names,
             "lookups": [], "neighbors": [], "lookup_ms": [], "neighbors_ms": []}
        t_start = time.time()
        with self.tracer.span("analyze", section=True):
            t0 = time.time()
            triples = read_graph_table(spark, paths["triples"])
            a["open_s"] = time.time() - t0
            for k in keys:
                t0 = time.time()
                rows = lookup_by_key(spark, paths["vertices"], ["entity_id"], (k,)).collect()
                a["lookup_ms"].append(1000 * (time.time() - t0))
                a["lookups"].append(rows)
            for n in names:
                t0 = time.time()
                rows = graph.neighbors(triples, n).toPandas()
                a["neighbors_ms"].append(1000 * (time.time() - t0))
                a["neighbors"].append(rows)
        a["s"] = time.time() - t_start
        return a

    # -- checks -------------------------------------------------------------
    def _check_triples(self, tpdf, gt: set, label: str) -> None:
        """Name-level triples against the corpus's ground truth: P and R at
        least PR_GATE, and every missing or extra triple listed."""
        pred = set(map(tuple, tpdf[["doc_id", "subj_name", "pred", "obj_name"]]
                       .itertuples(index=False, name=None)))
        inter = len(pred & gt)
        p = inter / len(pred) if pred else 0.0
        r = inter / len(gt) if gt else 0.0
        self.res.op(p >= PR_GATE and r >= PR_GATE)
        self.res.check(p >= PR_GATE and r >= PR_GATE,
                       f"{label}: triple P={p:.4f} R={r:.4f} below {PR_GATE}")
        if self.n_cycles == 1:
            self.res.notes += [f"{label}: missing triple {t}" for t in sorted(gt - pred)]
            self.res.notes += [f"{label}: extra triple {t}" for t in sorted(pred - gt)]
            self.res.notes.append(
                f"{label}: triple precision {inter}/{len(pred)}, recall {inter}/{len(gt)}")
        if label == "cold":
            self.res.add("quality.triple_precision", p)
            self.res.add("quality.triple_recall", r)
        self.res.report[f"{label}_triple_precision"] = (p, "ratio", 1)
        self.res.report[f"{label}_triple_recall"] = (r, "ratio", 1)

    def _check_point_queries(self, a: dict) -> None:
        import duckdb

        by_id = {r["entity_id"]: r for r in a["vpdf"].to_dict("records")}
        for k, rows in zip(a["keys"], a["lookups"]):
            ok = len(rows) == 1 and _row_eq(rows[0].asDict(), by_id[k])
            self.res.op(ok)
            self.res.check(ok, f"lookup_by_key({k!r}) returned {len(rows)} rows "
                               "or a row different from the table's")
        con = duckdb.connect()
        try:
            con.register("t", a["tpdf"])
            for n, got in zip(a["names"], a["neighbors"]):
                ok = same_frame(got, con.execute(NEIGHBORS_SQL, [n, n]).df())
                self.res.op(ok)
                self.res.check(ok, f"neighbors({n!r}) differs from DuckDB")
        finally:
            con.close()

    # -- traced run ---------------------------------------------------------
    def trace_extras(self) -> None:
        """After timing, on the first cycle's warehouse: the batch analytics
        and evaluate, then an incremental batch (the whole corpus; the
        resume anti-join keeps the new docs), the resume-contract check
        (smoke size) and the share of the mapping the incremental batch
        rewrote."""
        from financial_knowledge_graphs_spark.operators import materialize

        paths = self.paths(1)
        self._analytics(paths)
        self._batch("incr", self.docs, paths)
        self._check_triples(materialize.read_graph_table(self.spark, paths["triples"])
                            .toPandas(), self.gt_all, "incr")
        if self.size["resume_check"]:
            self._check_resume(paths)
        changes = materialize.read_table_changes(
            self.spark, paths["mapping"], self.mapping_sid_before)
        rewritten = changes.filter(self.F.col("_change_type") == "insert").count()
        total = (materialize.table_stats(paths["mapping"]) or {}).get("rows", 0)
        self.res.layer["canonicalize.touched_frac"] = rewritten / total if total else 0.0
        # files a point lookup reads: the live files of one vertices bucket
        st = materialize.table_stats(paths["vertices"]) or {}
        per = [b.get("files", 0) for b in (st.get("buckets") or {}).values()]
        self.res.layer["materialize.files_per_lookup"] = median(per)

    def _analytics(self, paths: dict) -> None:
        """degree / 2-hop / PageRank / BFS against DuckDB over the same
        triples, and evaluate on predictions made with the engine's
        extractor on the driver (the call that also gives us_per_doc)."""
        import duckdb
        import json

        from financial_knowledge_graphs_spark import fixtures
        from financial_knowledge_graphs_spark.operators import (
            evaluate, extract, graph, materialize, prep,
        )

        spark, F, L = self.spark, self.F, self.res.layer
        stories = prep.dedup_by_story(prep.quality_filter(
            prep.with_story(self.docs_cold))).select("doc_id", "story").toPandas()
        apdf = self.alias.select("alias", "canonical_name", "ticker", "industry",
                                 "country").toPandas()
        gaz = extract.Gazetteer(list(apdf.itertuples(index=False, name=None)))
        t0 = time.perf_counter()
        payloads = [(d, json.dumps(extract.extract_document(s or "", gaz),
                                   separators=(",", ":")))
                    for d, s in zip(stories["doc_id"], stories["story"])]
        L["extract.us_per_doc"] = 1e6 * (time.perf_counter() - t0) / max(1, len(payloads))
        pred_json = spark.createDataFrame(payloads, "doc_id string, payload string")
        gt_json = fixtures.gt_extractions_df(self.corpus).filter(
            F.col("doc_id") < self.cold_bound).select(
            "doc_id", F.to_json(F.struct("entities", "relationships")).alias("payload"))

        triples = materialize.read_graph_table(spark, paths["triples"])
        out, secs = {}, {}
        with self.tracer.span("analytics", section=True):
            for label, run in (
                ("degree", lambda: graph.degree_table(triples)),
                ("two_hop", lambda: graph.two_hop(triples)),
                ("pagerank", lambda: graph.pagerank(graph.edge_list(triples), iters=10)),
            ):
                t0 = time.time()
                out[label] = run().toPandas()
                secs[label] = time.time() - t0
            deg = out["degree"].sort_values(["degree", "name"], ascending=[False, True])
            top = deg.iloc[0]["name"]
            t0 = time.time()
            out["bfs"] = graph.bfs_distances(graph.edge_list(triples), top,
                                             max_depth=6).toPandas()
            secs["bfs"] = time.time() - t0
            t0 = time.time()
            m = evaluate.corpus_metrics(evaluate.per_doc_metrics(pred_json, gt_json))
            secs["evaluate"] = time.time() - t0
        for g in ("degree", "two_hop", "pagerank", "bfs"):
            L[f"graph.{g}_s"] = secs[g]
        L["evaluate.s"] = secs["evaluate"]
        L["evaluate.docs_per_s"] = len(payloads) / secs["evaluate"]
        L["quality.eval_f1"] = m["overall_f1"]
        self.res.report["eval_f1"] = (m["overall_f1"], "ratio", 1)
        self.res.op(m["overall_f1"] >= PR_GATE)
        self.res.check(m["overall_f1"] >= PR_GATE,
                       f"eval overall_f1 {m['overall_f1']:.4f} below {PR_GATE}")
        con = duckdb.connect()
        try:
            con.register("t", triples.toPandas())
            for label, sql in graph_oracles(top).items():
                ok = same_frame(out[label], con.execute(sql).df())
                self.res.op(ok)
                self.res.check(ok, f"graph {label} differs from DuckDB")
        finally:
            con.close()
        self.res.notes.append("analytics: " + ", ".join(
            f"{k} {v:.2f} s" for k, v in secs.items()))

    def _check_resume(self, paths: dict) -> None:
        """Resume contract: cold prefix + incremental batch == one cold run
        over the whole corpus (name-level triples and vertices)."""
        from financial_knowledge_graphs_spark.operators.materialize import read_graph_table
        from financial_knowledge_graphs_spark.pipeline import PipelineConfig, run_pipeline

        single = self.paths("single")
        wh = os.path.dirname(os.path.dirname(single["triples"]))
        run_pipeline(self.spark, self.docs, self.alias, PipelineConfig(warehouse=wh))
        for t, cols in (("triples", ["doc_id", "subj_name", "pred", "obj_name"]),
                        ("vertices", ["type", "name", "n_mentions"])):
            a = read_graph_table(self.spark, paths[t]).select(*cols)
            b = read_graph_table(self.spark, single[t]).select(*cols)
            diff = a.exceptAll(b).count() + b.exceptAll(a).count()
            self.res.op(diff == 0)
            self.res.check(diff == 0, f"resume: {t} of prefix + incremental differ "
                                      f"from a single run in {diff} rows")

    def finish_trace(self, ev: EventLog) -> None:
        """Per-layer numbers of the first cycle and the incremental batch,
        from their spans and the event log."""
        tr, L = self.tracer, self.res.layer
        first: set[int] = set()
        for name in ("batch.cold", "batch.incr", "analyze"):
            sec = tr.section(name)
            ids = tr.descendants(sec)
            first |= ids
            c = ev.counters(ids, sec["start"], sec["end"], True)
            label = name.split(".")[-1]
            keys = SPARK_COUNTERS if label != "analyze" else (
                "jobs", "tasks", "executor_run_ms", "unattributed_jobs")
            for k in keys:
                L[f"spark.{label}.{k}"] = c[k]
            if label != "analyze":
                for k in ("python_run_ms", "python_start_ms"):
                    L[f"extract.{k}"] = L.get(f"extract.{k}", 0.0) + c[k]

        def named(prefix, within=first):
            return [s for s in tr.spans_named(prefix) if s["id"] in within]

        for fn in ("canonical_mapping", "canonical_mapping_incremental",
                   "connected_components", "similarity_edges"):
            sps = named(f"linking.{fn}")
            L[f"linking.{fn}.self_s"] = sum(tr.self_seconds(s) for s in sps)
            L[f"linking.{fn}.jobs"] = _jobs_of(ev, tr, sps)
        incr_ids = tr.descendants(tr.section("batch.incr"))
        for t in GRAPH_TABLES:
            sps = named(f"materialize.merge_upsert.{t}", incr_ids)
            L[f"materialize.merge_s.{t}"] = sum(s["end"] - s["start"] for s in sps)
            L[f"materialize.merge_jobs.{t}"] = _jobs_of(ev, tr, sps)
        lk = named("materialize.lookup_by_key")
        L["materialize.lookup_jobs"] = _jobs_of(ev, tr, lk) / max(1, len(lk))
        ops = named("ops.")
        L["ops.calls"] = float(len(ops))
        L["ops.s"] = sum(s["end"] - s["start"] for s in ops)
        L["ops.jobs"] = _jobs_of(ev, tr, ops)


def _bytes_per_triple(paths: dict) -> float:
    """Live bytes of the four graph tables per triple, from table_stats()."""
    m = _materialize()
    stats = [m.table_stats(paths[t]) or {} for t in GRAPH_TABLES]
    n_triples = (m.table_stats(paths["triples"]) or {}).get("rows", 0)
    return sum(s.get("bytes", 0) for s in stats) / n_triples if n_triples else 0.0


def _materialize():
    from financial_knowledge_graphs_spark.operators import materialize

    return materialize


NEIGHBORS_SQL = """
    SELECT DISTINCT obj_name AS neighbor, pred, 'out' AS direction FROM t WHERE subj_name = ?
    UNION
    SELECT DISTINCT subj_name AS neighbor, pred, 'in' AS direction FROM t WHERE obj_name = ?
"""


def graph_oracles(top: str) -> dict[str, str]:
    """DuckDB twins of the graph operators over the registered triples ``t``."""
    from financial_knowledge_graphs_spark.operators.graph import PR_SCALE

    edges = ("e AS (SELECT DISTINCT subj_name AS src, obj_name AS dst FROM t "
             "WHERE subj_name <> obj_name)")
    ctes = [edges, "v AS (SELECT src AS name FROM e UNION SELECT dst FROM e)",
            "od AS (SELECT src, count(*) AS od FROM e GROUP BY 1)",
            f"r0 AS (SELECT name, {PR_SCALE}::BIGINT AS rank FROM v)"]
    tele = 15 * PR_SCALE // 100
    for i in range(1, 11):
        ctes.append(f"""r{i} AS (
            SELECT v.name, ({tele} + (85 * coalesce(s.s, 0)) // 100)::BIGINT AS rank
            FROM v LEFT JOIN (
              SELECT e.dst AS name, sum(r.rank // od.od)::BIGINT AS s
              FROM e JOIN r{i - 1} r ON e.src = r.name JOIN od ON od.src = e.src
              GROUP BY 1) s ON v.name = s.name)""")
    top_sql = top.replace("'", "''")
    return {
        "degree": """
            WITH o AS (SELECT subj_name AS name, count(*) AS od FROM t GROUP BY 1),
                 i AS (SELECT obj_name AS name, count(*) AS id_ FROM t GROUP BY 1)
            SELECT coalesce(o.name, i.name) AS name, coalesce(od, 0) AS out_degree,
                   coalesce(id_, 0) AS in_degree,
                   coalesce(od, 0) + coalesce(id_, 0) AS degree
            FROM o FULL OUTER JOIN i ON o.name = i.name""",
        "two_hop": """
            SELECT DISTINCT e1.subj_name AS a, e1.pred AS p1, e1.obj_name AS b,
                            e2.pred AS p2, e2.obj_name AS c
            FROM t e1 JOIN t e2 ON e1.obj_name = e2.subj_name
            WHERE e1.subj_name <> e2.obj_name""",
        "pagerank": "WITH " + ",\n".join(ctes)
                    + "\nSELECT name, rank AS rank_scaled FROM r10",
        "bfs": f"""
            WITH RECURSIVE {edges},
            p(name, dist) AS (
              SELECT '{top_sql}', 0
              UNION
              SELECT e.dst, p.dist + 1 FROM p JOIN e ON e.src = p.name
              WHERE p.dist < 6)
            SELECT name, min(dist)::INT AS dist FROM p GROUP BY name""",
    }


def _row_eq(got: dict, want: dict) -> bool:
    import math

    if set(got) != set(want):
        return False
    for k, v in got.items():
        w = want[k]
        if v is None or (isinstance(v, float) and math.isnan(v)):
            if not (w is None or (isinstance(w, float) and math.isnan(w))):
                return False
        elif hasattr(w, "item"):
            if v != w.item():
                return False
        elif v != w:
            return False
    return True


def _jobs_of(ev: EventLog, tr: Tracer, spans: list[dict]) -> float:
    ids = set()
    for s in spans:
        ids |= tr.descendants(s)
    return float(sum(1 for j in ev.jobs.values() if j["span"] in ids))


def _count_files(path: str) -> int:
    n = 0
    for _, _, fns in os.walk(path):
        n += sum(1 for f in fns if f.endswith(".parquet"))
    return n


# ---------------------------------------------------------------------------
# neardup_ops
# ---------------------------------------------------------------------------

class NeardupOps:
    def __init__(self, spark, tracer: Tracer, work: str, seed: int, size: dict,
                 res: Result):
        import __spark_entry__ as entry

        self.spark, self.tracer, self.res = spark, tracer, res
        self.names = size["queries"]
        self.queries = entry.queries()
        self.oracles = entry.oracle_sql()
        missing = [n for n in self.names if n not in self.queries or n not in self.oracles]
        if missing:
            raise RuntimeError(f"queries or oracles not registered: {missing}")
        t0 = time.time()
        _warm_python_workers(spark)
        res.notes.append(f"setup: Python workers started in {time.time() - t0:.2f} s")

    def cycle(self) -> None:
        results, times = {}, {}
        t_cycle = time.time()
        with self.tracer.span("neardup", section=True):
            for n in self.names:
                t0 = time.time()
                with self.tracer.span(f"query.{n}"):
                    results[n] = self.queries[n](self.spark, DATA_DIR).toPandas()
                times[n] = time.time() - t0
        self.res.run_samples.append(time.time() - t_cycle)
        self._check(results)
        for n, s in times.items():
            self.res.add(f"{n}.s", s)
            self.res.report[f"{n}_s"] = (s, "s", 1)
        if "q_minhash_lsh" in results:
            self.res.layer["dedup.minhash_pairs"] = float(len(results["q_minhash_lsh"]))

    def _check(self, results: dict) -> None:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings", "events", "orders"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(DATA_DIR, t + '.parquet')}'")
            for n, got in results.items():
                ok = same_frame(got, con.sql(self.oracles[n]).df())
                self.res.op(ok)
                self.res.check(ok, f"{n} differs from its DuckDB oracle")
        finally:
            con.close()

    def finish_trace(self, ev: EventLog) -> None:
        tr, L = self.tracer, self.res.layer
        sec = tr.section("neardup")
        c = ev.counters(tr.descendants(sec), sec["start"], sec["end"], True)
        for k in ("jobs", "tasks", "executor_run_ms", "unattributed_jobs"):
            L[f"spark.neardup.{k}"] = c.get(k, 0.0)

    def trace_extras(self) -> None:
        """Candidate pairs LSH produced for q_minhash_lsh (before verify)."""
        from financial_knowledge_graphs_spark.operators import dedup

        if "q_minhash_lsh" not in self.names:
            return
        docs = self.spark.read.parquet(os.path.join(DATA_DIR, "documents.parquet"))
        self.res.layer["dedup.minhash_candidates"] = float(
            dedup.lsh_candidate_pairs(docs, "text", "doc_id").count())


def _warm_python_workers(spark) -> None:
    """Start the Python workers once before timing, as a long-lived
    session would have them."""
    import pandas as pd

    def touch(batches):
        import financial_knowledge_graphs_spark.operators.dedup  # noqa: F401
        for b in batches:
            yield pd.DataFrame({"id": b["id"]})

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, numPartitions=n).mapInPandas(touch, "id long").collect()


WORKLOADS = {"neardup_ops": NeardupOps, "ingest": Ingest}


def install_wrappers(tracer: Tracer) -> None:
    """Spans around each layer's public entry points."""
    if not tracer.enabled:
        return
    from financial_knowledge_graphs_spark import ops
    from financial_knowledge_graphs_spark.operators import (
        evaluate, extract, graph, materialize,
    )

    tracer.wrap(materialize, "merge_upsert",
                lambda spark, path, *a, **k: "materialize.merge_upsert."
                + os.path.basename(os.path.normpath(path)))
    for fn in ("canonical_mapping", "canonical_mapping_incremental"):
        tracer.wrap(materialize, fn, f"linking.{fn}")
    # looked up through materialize's namespace, where the mapping code calls them
    tracer.wrap(materialize, "connected_components", "linking.connected_components")
    tracer.wrap(materialize, "similarity_edges", "linking.similarity_edges")
    for fn in ("build_vertices", "build_triples", "read_graph_table",
               "lookup_by_key"):
        tracer.wrap(materialize, fn, f"materialize.{fn}")
    for fn in ("make_extract_udf", "run_extraction", "mentions_df", "raw_triples_df"):
        tracer.wrap(extract, fn, f"extract.{fn}")
    for fn in ("next_run_id", "latest_run_id", "processed_docs", "checkpoint_docs",
               "log_lineage", "log_partition_lineage", "log_metrics", "compact"):
        tracer.wrap(ops.OpsStore, fn, f"ops.{fn}")
    for fn in ("neighbors", "degree_table", "two_hop", "pagerank", "bfs_distances",
               "edge_list"):
        tracer.wrap(graph, fn, f"graph.{fn}")
    for fn in ("per_doc_metrics", "corpus_metrics"):
        tracer.wrap(evaluate, fn, f"evaluate.{fn}")


