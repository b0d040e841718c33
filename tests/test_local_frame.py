"""Driver-sized frames as LocalRelations (``session.local_frame``): the
same frame ``createDataFrame(<python list>)`` builds, with no Python-worker
job, and the call sites that depended on it running no job either."""

import ast
import datetime
import os

import pytest
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StructType, TimestampType,
)

from financial_knowledge_graphs_spark import schemas
from financial_knowledge_graphs_spark.operators import materialize
from financial_knowledge_graphs_spark.ops import OpsStore
from financial_knowledge_graphs_spark.session import local_frame

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _jobs(spark, group, fn):
    """Run ``fn`` in job group ``group``; return (result, job count)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc._jsc.clearJobGroup()


def _value(dtype, i):
    if isinstance(dtype, (IntegerType, LongType)):
        return i
    if isinstance(dtype, DoubleType):
        return i + 0.5
    if isinstance(dtype, TimestampType):
        return datetime.datetime(2024, 1, 2, 3, 4, i, 123456)
    return f"v{i}"


@pytest.mark.parametrize("schema", [
    schemas.RUNS, schemas.METRICS, schemas.CHECKPOINTS, schemas.ALIAS_DICT,
    materialize._MAPPING_SCHEMA, "name string, dist int", "comp string",
], ids=["runs", "metrics", "checkpoints", "alias_dict", "mapping",
        "bfs_seed", "touched_comps"])
@pytest.mark.parametrize("n_rows", [0, 3])
def test_local_frame_matches_create_dataframe(spark, schema, n_rows):
    struct = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    rows = [tuple(_value(f.dataType, i) for f in struct.fields)
            for i in range(n_rows)]
    if n_rows:
        rows.append(tuple(None for _ in struct.fields))
    want = spark.createDataFrame(rows, schema)
    got, n_jobs = _jobs(spark, f"local-frame-{n_rows}",
                        lambda: local_frame(spark, rows, schema).collect())
    assert n_jobs == 0
    assert local_frame(spark, rows, schema).schema == want.schema
    assert sorted(got, key=repr) == sorted(want.collect(), key=repr)


@pytest.mark.parametrize("schema,row", [
    ("name string, dist int", ("a", "1")),
    (schemas.RUNS, ("run_1", "1", None)),
    (schemas.CHECKPOINTS, ("run_1", "extract", "d1", "0", None)),
], ids=["bfs_seed", "runs", "checkpoints"])
def test_local_frame_rejects_str_in_int_column(spark, schema, row):
    with pytest.raises((TypeError, ValueError)):
        local_frame(spark, [row], schema)


def test_lookup_and_fresh_ops_store_job_counts(spark, tmp_warehouse):
    """The bucket hash folds on the driver: the lookup's only job is the
    caller's collect. A fresh ops store reads as empty local frames."""
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(
        spark, t, spark.range(20).selectExpr("concat('k', id) AS k", "id AS v"),
        ["k"], n_buckets=4)
    got, n_jobs = _jobs(spark, "lookup-jobs", lambda: materialize.lookup_by_key(
        spark, t, ["k"], ("k7",)).collect())
    assert [(r.k, r.v) for r in got] == [("k7", 7)]
    assert n_jobs == 1

    ops = OpsStore(spark, os.path.join(tmp_warehouse, "ops"))
    run, n_jobs = _jobs(spark, "fresh-latest-run", ops.latest_run_id)
    assert (run, n_jobs) == (None, 0)
    done, n_jobs = _jobs(spark, "fresh-processed-docs",
                         lambda: ops.processed_docs("run_1", "extract").collect())
    assert (done, n_jobs) == ([], 0)


@pytest.mark.parametrize("keys,values", [
    (["k"], ("a", "b")), (["k", "v"], ("a",)), ([], ())],
    ids=["more_values", "fewer_values", "no_keys"])
def test_lookup_by_key_rejects_key_value_mismatch(spark, tmp_warehouse,
                                                  keys, values):
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(
        spark, t, spark.createDataFrame([("a", 1)], "k string, v long"),
        ["k"], n_buckets=2)

    def call():
        with pytest.raises(ValueError, match=f"{len(keys)} key column.*"
                                             f"{len(values)} value"):
            materialize.lookup_by_key(spark, t, keys, values)

    _, n_jobs = _jobs(spark, "lookup-bad-args", call)
    assert n_jobs == 0


def test_create_dataframe_only_in_local_frame():
    """Every driver-side frame on the batch path goes through local_frame:
    a list-backed createDataFrame starts Python workers and a Spark job
    per action over the frame."""
    files = [os.path.join(REPO, "__spark_entry__.py")]
    for sub in ("financial_knowledge_graphs_spark", "jobs"):
        for d, _, names in os.walk(os.path.join(REPO, sub)):
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    allowed = os.path.join(REPO, "financial_knowledge_graphs_spark", "session.py")
    hits = []
    for path in files:
        src = open(path, encoding="utf-8").read()
        span = range(0)
        if path == allowed:
            fn = next(n for n in ast.parse(src).body
                      if isinstance(n, ast.FunctionDef) and n.name == "local_frame")
            span = range(fn.lineno, fn.end_lineno + 1)
        hits += [f"{os.path.relpath(path, REPO)}:{i}"
                 for i, line in enumerate(src.splitlines(), 1)
                 if "createDataFrame(" in line and i not in span]
    assert len(files) > 20 and hits == []
