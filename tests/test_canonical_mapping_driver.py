"""The full canonicalization's driver path and the first-write merge: the
driver path (``_driver_canonicalize``, shared with the incremental path)
returns the distributed plan's rows and columns, falls back past its pair
budget, and the cold batch's fixed cost — jobs per canonicalization, the
merge head, files per bucket — is pinned."""

import ast
import os

import pandas as pd
import pytest

from financial_knowledge_graphs_spark import fixtures
from financial_knowledge_graphs_spark.operators import materialize
from financial_knowledge_graphs_spark.operators.linking import name_keys
from financial_knowledge_graphs_spark.session import local_frame

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "financial_knowledge_graphs_spark")


def _surfaces(spark, names, typ="Company"):
    return local_frame(spark, [(typ, n) for n in names], "type string, name string")


def _in_group(spark, group, fn):
    """Run ``fn`` in job group ``group``; return (result, job count, stage
    names) — a stage name is '<action> at <call site>'."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        tracker = sc.statusTracker()
        job_ids = tracker.getJobIdsForGroup(group)
        stages = [
            tracker.getStageInfo(sid).name
            for jid in job_ids for sid in tracker.getJobInfo(jid).stageIds
            if tracker.getStageInfo(sid) is not None
        ]
        return out, len(job_ids), stages
    finally:
        sc._jsc.clearJobGroup()


def _rows(df):
    return sorted(tuple(map(repr, r)) for r in df.collect())


_ALIASES = [a for c in fixtures.make_companies(40, 7) for a in fixtures.aliases_for(c)]
_CASES = {
    "alias_clusters": (_ALIASES, 1000),
    "purged_block": (_ALIASES + ["Zeta Alpha Beta", "Meridian Global Bank Co"], 5),
    "unicode": (["Société Générale", "Société Générale SA", "societe generale",
                 "Ünited Ärzte GmbH", "Ünited Ärzte", "東京 電力", "東京 電力 Holdings"], 1000),
    "empty_norm": (["", "Inc.", "Co", "Ltd.", "Alpha Beta", "Alpha Beta Inc."], 1000),
    "null_name": ([None, "Alpha Beta", "Alpha Beta Gamma", "Omega"], 1000),
}


@pytest.mark.parametrize("case", list(_CASES))
def test_full_driver_path_equals_distributed(spark, case):
    names, max_block = _CASES[case]
    m = _surfaces(spark, names)
    fast = materialize.canonical_mapping(m, max_block=max_block)
    slow = materialize.canonical_mapping(m, max_block=max_block, driver_threshold=0)
    assert fast.columns == slow.columns
    assert fast.schema == slow.schema
    a, b = _rows(fast), _rows(slow)
    assert a == b
    assert len(a) == len(set(names))


def test_full_path_over_pair_budget_runs_distributed(spark, monkeypatch):
    """Past DRIVER_PAIR_BUDGET the driver core hands the ledger back and
    the distributed blocking → components plan runs, with equal rows."""
    names = [f"Alpha Co{i}" for i in range(12)] + ["Alpha", "Alpha Co", "Alpha Co1 Co2"]
    m = _surfaces(spark, names)
    want = _rows(materialize.canonical_mapping(m))
    calls = []
    real_cc = materialize.connected_components

    def spy(*a, **kw):
        calls.append(1)
        return real_cc(*a, **kw)

    monkeypatch.setattr(materialize, "connected_components", spy)
    assert _rows(materialize.canonical_mapping(m)) == want
    assert calls == []  # under the budget: driver path, no CC plan
    monkeypatch.setattr(materialize, "DRIVER_PAIR_BUDGET", 10)
    assert _rows(materialize.canonical_mapping(m)) == want
    assert calls == [1]


def test_pair_budget_counts_before_verifying(spark):
    """One block over the real budget: the core returns None from the pair
    count alone (2,500 surfaces sharing a token = 3,123,750 pairs)."""
    n = 2500
    assert n * (n - 1) // 2 > materialize.DRIVER_PAIR_BUDGET
    pdf = pd.DataFrame({
        "key": [f"Company|Alpha {i}" for i in range(n)],
        "type": ["Company"] * n,
        "name": [f"Alpha {i}" for i in range(n)],
        "norm": [f"alpha {i}" for i in range(n)],
        "tokens": [["alpha", str(i)] for i in range(n)],
        "is_new": [True] * n,
        "comp": [None] * n,
    })
    assert materialize._driver_canonicalize(spark, pdf, max_block=10_000) is None


def _prior_map(spark, names):
    return materialize.canonical_mapping(_surfaces(spark, names)).select(
        "key", "type", "name", "norm", "comp", "entity_id")


def test_incremental_null_name_and_pair_budget(spark, monkeypatch):
    """A NULL name reaches the incremental driver path (extraction filters
    only local_id): it comes back as a singleton with NULL norm, equal to
    the distributed path — and so does the same batch past the budget."""
    prior = _prior_map(spark, ["Zeta Alpha", "Zeta Alpha Beta Gamma Delta",
                               "Omega Systems"]).cache()
    batch = name_keys(_surfaces(spark, [None, "Zeta Alpha Beta", "Omega"]))
    slow = _rows(materialize.canonical_mapping_incremental(prior, batch,
                                                           driver_threshold=0))
    fast = materialize.canonical_mapping_incremental(prior, batch)
    assert _rows(fast) == slow
    null_rows = [r for r in fast.collect() if r["name"] is None]
    assert [(r["key"], r["norm"], r["comp"]) for r in null_rows] == [
        ("Company", None, "Company")]
    monkeypatch.setattr(materialize, "DRIVER_PAIR_BUDGET", 0)
    assert _rows(materialize.canonical_mapping_incremental(prior, batch)) == slow
    prior.unpersist()


# --- the cold batch's fixed cost ------------------------------------------

# canonical_mapping(...).collect() on a small ledger takes the driver path:
# the keys' collect for the driver core, then the result joined with the
# keys' n_mentions (13 jobs on the distributed plan)
CANONICALIZE_JOBS = 5


def test_small_ledger_canonicalization_job_count(spark):
    counts = {}
    for thr in (50_000, 0):
        names = [f"Alpha Co{i}" for i in range(20)] + [
            f"Beta Holdings {thr} {i}" for i in range(200)]
        _, counts[thr], _ = _in_group(
            spark, f"canon-jobs-{thr}",
            lambda: materialize.canonical_mapping(
                _surfaces(spark, names), driver_threshold=thr).collect())
    assert counts[50_000] <= CANONICALIZE_JOBS, counts
    assert counts[0] > counts[50_000], counts


def _data_files(table, bucket_dir, version):
    d = os.path.join(table, bucket_dir, version)
    return [f for f in os.listdir(d) if f.endswith(".parquet")]


def test_first_write_runs_no_head_and_writes_one_file_per_bucket(spark, tmp_warehouse):
    t = os.path.join(tmp_warehouse, "tbl")
    rows = local_frame(spark, [(f"k{i}", i) for i in range(400)], "k string, v long")
    _, n_jobs, stages = _in_group(
        spark, "first-write",
        lambda: materialize.merge_upsert(spark, t, rows, ["k"], n_buckets=16))
    # the head is a collect inside materialize.py; a first write has
    # nothing to match, so only the key dedup and the write run (4 jobs
    # under AQE; with the head, 6)
    assert not [s for s in stages if s.startswith("collect at")], stages
    assert n_jobs <= 4, stages
    buckets = materialize.snapshots(t)[-1]["buckets"]
    assert len(buckets) == 16  # 400 keys fill every bucket
    for b, versions in buckets.items():
        assert len(versions) == 1
        assert len(_data_files(t, b, versions[0])) == 1, b
    assert materialize.read_graph_table(spark, t).count() == 400


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_second_merge_writes_one_file_per_touched_bucket(spark, tmp_warehouse, mode):
    t = os.path.join(tmp_warehouse, "tbl")
    base = [(f"k{i}", i) for i in range(400)]
    materialize.merge_upsert(
        spark, t, local_frame(spark, base, "k string, v long"), ["k"], n_buckets=16)
    before = materialize.snapshots(t)[-1]["buckets"]
    # updates of existing keys (matched) plus new keys (appends)
    upd = [(f"k{i}", -i) for i in range(0, 400, 7)] + [(f"n{i}", i) for i in range(60)]
    materialize.merge_upsert(
        spark, t, local_frame(spark, upd, "k string, v long"), ["k"],
        n_buckets=16, mode=mode)
    after = materialize.snapshots(t)[-1]["buckets"]
    touched = 0
    for b, versions in after.items():
        new = [v for v in versions if v not in before.get(b, [])]
        assert len(new) <= 1, (b, new)
        for v in new:
            touched += 1
            assert len(_data_files(t, b, v)) == 1, (b, v)
    assert touched == 16
    if mode == "mor":
        assert materialize._table_state(t)["deletes"]
    got = {(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()}
    assert got == (set(base) - {(f"k{i}", i) for i in range(0, 400, 7)}) | set(upd)


# --- one canonicalization path ---------------------------------------------

def _call_sites(path, names):
    """(callee, line) of every call to one of ``names`` in ``path``."""
    tree = ast.parse(open(path, encoding="utf-8").read())
    calls = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name in names:
                calls.append((name, node.lineno))
    return sorted(calls)


def test_one_canonicalization_plan_and_one_pipeline_call():
    """A full relink is the incremental canonicalization over an empty
    mapping: materialize.py holds one distributed plan (similarity_edges →
    connected_components → _assign_entity_ids) and one driver adapter, and
    the pipeline canonicalizes from one site. A second copy fails here."""
    plan = ("similarity_edges", "connected_components", "_assign_entity_ids",
            "_driver_canonicalize")
    sites = _call_sites(os.path.join(PKG, "operators", "materialize.py"), plan)
    assert sorted(n for n, _ in sites) == sorted(plan), sites
    pipe = _call_sites(os.path.join(PKG, "pipeline.py"),
                       ("canonical_mapping", "canonical_mapping_incremental"))
    assert len(pipe) == 1, pipe
