"""Partition-scoped merge_upsert (Iceberg-MERGE emulation, VERDICT r1 #3):
bucketed layout, pointer-swap atomicity, and — the scale property — a small
merge must rewrite only the buckets it touches, not the whole table."""

import os

import pytest
from pyspark.sql import functions as F

from financial_knowledge_graphs_spark.operators import materialize


def _mk(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


def _versions(table):
    """bucket id -> (live version per latest snapshot, set of version dirs)."""
    live = materialize.snapshots(table)[-1]["buckets"]
    out = {}
    for d in sorted(os.listdir(table)):
        if not d.startswith("bucket="):
            continue
        bdir = os.path.join(table, d)
        vs = {x for x in os.listdir(bdir) if x.startswith("v_")}
        out[int(d.split("=")[1])] = (live.get(d), vs)
    return out


def test_merge_roundtrip_and_idempotence(spark, tmp_warehouse):
    t = os.path.join(tmp_warehouse, "tbl")
    rows = [(f"k{i}", i) for i in range(50)]
    materialize.merge_upsert(spark, t, _mk(spark, rows), ["k"], n_buckets=8)
    got = materialize.read_graph_table(spark, t)
    assert got.count() == 50
    assert {r["k"] for r in got.collect()} == {f"k{i}" for i in range(50)}

    # re-merge the identical rows: keyed MERGE absorbs the replay
    materialize.merge_upsert(spark, t, _mk(spark, rows), ["k"], n_buckets=8)
    assert materialize.read_graph_table(spark, t).count() == 50

    # update wins on key collision
    materialize.merge_upsert(spark, t, _mk(spark, [("k0", 999)]), ["k"], n_buckets=8)
    got = materialize.read_graph_table(spark, t)
    assert got.count() == 50
    assert got.filter(F.col("k") == "k0").collect()[0]["v"] == 999


def test_small_merge_touches_only_its_buckets(spark, tmp_warehouse):
    """THE scale property: a 1-row merge bumps exactly the one bucket the
    key hashes into; every other bucket's version dir and pointer are
    byte-identical (no full-table rewrite)."""
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"k{i}", i) for i in range(200)]), ["k"], n_buckets=8
    )
    before = _versions(t)
    assert len(before) > 1  # rows really spread over buckets

    materialize.merge_upsert(spark, t, _mk(spark, [("newkey", 1)]), ["k"], n_buckets=8)
    after = _versions(t)
    changed = [b for b in after if before.get(b) != after[b]]
    assert len(changed) == 1, f"expected 1 touched bucket, got {changed}"
    # untouched buckets: same pointer AND same version-dir set
    for b in after:
        if b not in changed:
            assert before[b] == after[b]
    assert materialize.read_graph_table(spark, t).count() == 201


def test_null_key_merge_idempotent(spark, tmp_warehouse):
    """NULL-bearing merge keys must still be null-safe (round-1 semantics
    preserved under bucketing)."""
    t = os.path.join(tmp_warehouse, "tbl")
    rows = [("a", None), (None, 1), ("b", 2)]
    df = spark.createDataFrame(rows, "k string, v long")
    materialize.merge_upsert(spark, t, df, ["k", "v"], n_buckets=4)
    materialize.merge_upsert(spark, t, df, ["k", "v"], n_buckets=4)
    assert materialize.read_graph_table(spark, t).count() == 3


def _assert_single_layout(t):
    """The table dir holds bucket=* dirs of v_* version dirs plus
    _metadata/ — nothing else (no pointer, log or marker files)."""
    top = set(os.listdir(t))
    assert "_metadata" in top
    assert all(d.startswith("bucket=") for d in top - {"_metadata"}), top
    for d in top - {"_metadata"}:
        inner = os.listdir(os.path.join(t, d))
        assert all(v.startswith("v_") for v in inner), (d, inner)


def _assert_metadata_consistent(t):
    """The live snapshot's maps agree with its bucket map and the files:
    per-bucket stats for exactly the mapped buckets, with footer-true row
    counts; per-dir bounds and sequence numbers for exactly the live data
    dirs, none newer than the snapshot; deletes only on live buckets."""
    import pyarrow.parquet as pq

    snap = materialize._table_state(t)
    live = {f"{b}/{v}" for b, vs in snap["buckets"].items() for v in vs}
    assert set(snap["stats"]) == set(snap["buckets"])
    for b, vs in snap["buckets"].items():
        rows = sum(
            pq.ParquetFile(os.path.join(t, b, v, f)).metadata.num_rows
            for v in vs for f in os.listdir(os.path.join(t, b, v))
            if f.endswith(".parquet")
        )
        assert snap["stats"][b]["rows"] == rows, b
    assert set(snap["dir_stats"]) == live
    assert set(snap["dir_seq"]) == live
    assert all(s <= snap["snapshot_id"] for s in snap["dir_seq"].values())
    assert set(snap["deletes"]) <= set(snap["buckets"])


def test_every_write_path_keeps_the_single_layout(spark, tmp_warehouse):
    t = os.path.join(tmp_warehouse, "tbl")

    def check():
        _assert_single_layout(t)
        _assert_metadata_consistent(t)

    rows = [(f"k{i}", i) for i in range(40)]
    materialize.merge_upsert(spark, t, _mk(spark, rows), ["k"], n_buckets=4)
    check()
    materialize.merge_upsert(
        spark, t, _mk(spark, [("k0", 99)]), ["k"], n_buckets=4, mode="mor")
    check()
    assert materialize._table_state(t)["deletes"]  # the MOR path was taken
    materialize.rebucket_table(spark, t, ["k"], new_buckets=8)
    check()
    materialize.compact_table(spark, t, max_files=0)
    check()
    sid = materialize.snapshots(t)[-1]["snapshot_id"]
    materialize.cluster_table(spark, t, "v", files_per_bucket=2)
    check()
    materialize.rollback_table(t, sid)
    check()
    got = {(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {("k0", 99)} | set(rows[1:])
    materialize.truncate_table(t)
    check()
    assert materialize.read_graph_table(spark, t).count() == 0


def test_failed_install_releases_staging(spark, tmp_warehouse, monkeypatch):
    """A write that fails after staging its files (here: the disk fills
    while installing them) removes its staging dir and leaves the live
    snapshot as it was — on every write path."""
    import errno

    import pytest

    t = os.path.join(tmp_warehouse, "tbl")
    rows = [(f"k{i}", i) for i in range(40)]
    materialize.merge_upsert(spark, t, _mk(spark, rows), ["k"], n_buckets=4)
    sid = materialize._live_sid(t)

    def disk_full(src_dir, bucket_dir):
        raise OSError(errno.ENOSPC, "No space left on device")

    monkeypatch.setattr(materialize, "_install_version", disk_full)
    writes = {
        "merge": lambda: materialize.merge_upsert(
            spark, t, _mk(spark, [("k0", 99), ("new", 1)]), ["k"], n_buckets=4),
        "rebucket": lambda: materialize.rebucket_table(spark, t, ["k"], new_buckets=8),
        "compact": lambda: materialize.compact_table(spark, t, max_files=0),
        "cluster": lambda: materialize.cluster_table(spark, t, "v", files_per_bucket=2),
    }
    for name, write in writes.items():
        with pytest.raises(OSError) as err:
            write()
        assert err.value.errno == errno.ENOSPC, name
        left = [d for d in os.listdir(tmp_warehouse) if d.startswith("tbl__staging_")]
        assert left == [], name
        assert materialize._live_sid(t) == sid, name
        got = {(r["k"], r["v"])
               for r in materialize.read_graph_table(spark, t).collect()}
        assert got == set(rows), name


@pytest.mark.parametrize("op, knob, bad", [
    ("merge_upsert", "n_buckets", 0),
    ("merge_upsert", "n_buckets", True),
    ("merge_upsert", "n_buckets", 2.0),
    ("rebucket_table", "new_buckets", 0),
    ("rebucket_table", "new_buckets", False),
    ("compact_table", "max_files", -1),
    ("compact_table", "max_files", 1.5),
    ("cluster_table", "files_per_bucket", 0),
    ("cluster_table", "files_per_bucket", True),
])
def test_table_knobs_rejected_before_any_job(spark, tmp_warehouse, op, knob, bad):
    """A bad bucket or file count raises a ValueError naming the knob
    before any Spark job runs (unchecked, n_buckets=0 on a first write
    failed inside a job with a remainder-by-zero error)."""
    t = os.path.join(tmp_warehouse, "tbl")
    if op != "merge_upsert":
        materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=2)
    sid = materialize._live_sid(t)
    call = {
        "merge_upsert": lambda: materialize.merge_upsert(
            spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=bad),
        "rebucket_table": lambda: materialize.rebucket_table(
            spark, t, ["k"], new_buckets=bad),
        "compact_table": lambda: materialize.compact_table(spark, t, max_files=bad),
        "cluster_table": lambda: materialize.cluster_table(
            spark, t, "v", files_per_bucket=bad),
    }[op]
    sc = spark.sparkContext
    sc.setJobGroup("bad-knob", "table knob validation")
    try:
        with pytest.raises(ValueError, match=knob):
            call()
        assert sc.statusTracker().getJobIdsForGroup("bad-knob") == []
    finally:
        sc._jsc.clearJobGroup()
    assert materialize._live_sid(t) == sid


def test_path_without_snapshot_is_not_a_table(spark, tmp_warehouse):
    """Only a committed snapshot makes a table: flat parquet or staged
    bucket dirs alone are not read, and a merge into such a dir is a
    first write (crash-replay of a first commit that never landed)."""
    import re
    import shutil

    import pytest

    flat = os.path.join(tmp_warehouse, "flat")
    _mk(spark, [("a", 1)]).write.parquet(flat)
    for path in (flat, os.path.join(tmp_warehouse, "missing")):
        assert not materialize.table_exists(path)
        with pytest.raises(ValueError, match=re.escape(path)):
            materialize.read_graph_table(spark, path)
        with pytest.raises(ValueError, match=re.escape(path)):
            materialize.lookup_by_key(spark, path, ["k"], ("a",))

    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=2)
    shutil.rmtree(os.path.join(t, "_metadata"))  # first commit never landed
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 2)]), ["k"], n_buckets=2)
    got = [(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()]
    assert got == [("a", 2)]


def test_truncate(spark, tmp_warehouse):
    """TRUNCATE = a committed EMPTY snapshot (Iceberg semantics): the table
    keeps existing and reads as zero rows, snapshot ids stay monotone, and
    the pre-truncate snapshot stays time-travelable within retention."""
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=4)
    assert materialize.table_exists(t)
    sid_before = materialize.snapshots(t)[-1]["snapshot_id"]
    materialize.truncate_table(t)
    assert materialize.read_graph_table(spark, t).count() == 0
    sid_after = materialize.snapshots(t)[-1]["snapshot_id"]
    assert sid_after == sid_before + 1  # monotone, never reused
    got = materialize.read_graph_table(spark, t, snapshot=sid_before).collect()
    assert [(r["k"], r["v"]) for r in got] == [("a", 1)]
    # CDC across the truncate is 'delete everything', offsets stay valid
    ch = {(r["k"], r["v"], r["_change_type"]) for r in
          materialize.read_table_changes(spark, t, sid_before, sid_after).collect()}
    assert ch == {("a", 1, "delete")}
    # a directory with no committed snapshot has nothing to fence: removed
    raw = os.path.join(tmp_warehouse, "raw_dir")
    os.makedirs(raw)
    materialize.truncate_table(raw)
    assert not os.path.exists(raw)


def test_snapshot_time_travel(spark, tmp_warehouse):
    """Iceberg-snapshot emulation: every merge commits a snapshot; reads
    with snapshot=N reproduce the table as of that merge, within the
    retention window."""
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1), ("b", 2)]), ["k"], n_buckets=4)
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 99), ("c", 3)]), ["k"], n_buckets=4)
    snaps = materialize.snapshots(t)
    assert [s["snapshot_id"] for s in snaps] == [1, 2]

    s1 = materialize.read_graph_table(spark, t, snapshot=1)
    assert {(r["k"], r["v"]) for r in s1.collect()} == {("a", 1), ("b", 2)}
    s2 = materialize.read_graph_table(spark, t, snapshot=2)
    assert {(r["k"], r["v"]) for r in s2.collect()} == {("a", 99), ("b", 2), ("c", 3)}
    # current read == latest snapshot
    cur = materialize.read_graph_table(spark, t)
    assert {(r["k"], r["v"]) for r in cur.collect()} == {("a", 99), ("b", 2), ("c", 3)}

    # retention: after > SNAPSHOT_RETENTION more merges, snapshot 1 expires
    for i in range(materialize.SNAPSHOT_RETENTION + 1):
        materialize.merge_upsert(spark, t, _mk(spark, [(f"x{i}", i)]), ["k"], n_buckets=4)
    import pytest

    with pytest.raises(ValueError):
        materialize.read_graph_table(spark, t, snapshot=1).collect()


def test_lookup_by_key_prunes_to_one_bucket(spark, tmp_warehouse):
    """Point lookup reads ONLY the key's bucket (Iceberg partition-pruned
    point read): the scanned path set is 1 of n buckets, and results match
    a full-table filter."""
    t = os.path.join(tmp_warehouse, "tbl")
    rows = [(f"k{i}", i) for i in range(100)]
    materialize.merge_upsert(spark, t, _mk(spark, rows), ["k"], n_buckets=8)
    got = materialize.lookup_by_key(spark, t, ["k"], ("k42",))
    assert [(r["k"], r["v"]) for r in got.collect()] == [("k42", 42)]
    # the plan reads exactly one bucket dir
    files = [f.replace("file:", "") for f in got.inputFiles()]
    bucket_dirs = {f.split("/bucket=")[1].split("/")[0] for f in files}
    assert len(bucket_dirs) == 1
    # missing key -> empty, still pruned
    assert materialize.lookup_by_key(spark, t, ["k"], ("nope",)).count() == 0


def test_crash_orphan_version_replay(spark, tmp_warehouse):
    """Review r2-1: a crash between the version-dir rename and the pointer
    swap leaves an orphan v_N dir; the replayed merge must skip it, not
    collide with ENOTEMPTY."""
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=2)
    # simulate the crash window: orphan next-version dir, pointer unmoved
    bdir = next(os.path.join(t, d) for d in os.listdir(t) if d.startswith("bucket="))
    os.makedirs(os.path.join(bdir, "v_0000002"))
    open(os.path.join(bdir, "v_0000002", "orphan.parquet"), "wb").write(b"junk")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 7)]), ["k"], n_buckets=2)
    got = {r["k"]: r["v"] for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {"a": 7}


def test_empty_first_merge_then_rows(spark, tmp_warehouse):
    """Review r2-2: a zero-row first merge must commit a readable empty
    table (typed by the schema in its snapshot metadata), and a later real
    merge must build on it."""
    t = os.path.join(tmp_warehouse, "tbl")
    empty = spark.createDataFrame([], "k string, v long")
    materialize.merge_upsert(spark, t, empty, ["k"], n_buckets=4)
    assert materialize.table_exists(t)
    assert materialize.read_graph_table(spark, t).count() == 0
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=4)
    assert materialize.read_graph_table(spark, t).count() == 1


def test_time_travel_with_tombstoned_bucket(spark, tmp_warehouse):
    """Review r2-4/5: a snapshot taken right after a delete-emptied bucket
    must stay readable (bucket reads empty), and a fully-emptied table
    reads as zero rows through the schema its snapshot records."""
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1), ("b", 2)]), ["k"], n_buckets=2)
    materialize.merge_upsert(
        spark, t, spark.createDataFrame([], "k string, v long"), ["k"],
        n_buckets=2, deletes=_mk(spark, [("a", 1)]).select("k"),
    )
    snaps = materialize.snapshots(t)
    latest = snaps[-1]["snapshot_id"]
    asof = materialize.read_graph_table(spark, t, snapshot=latest)
    assert {r["k"] for r in asof.collect()} == {"b"}
    # empty the whole table
    materialize.merge_upsert(
        spark, t, spark.createDataFrame([], "k string, v long"), ["k"],
        n_buckets=2, deletes=_mk(spark, [("b", 2)]).select("k"),
    )
    assert materialize.read_graph_table(spark, t).count() == 0


def test_lookup_by_key_typed_literals(spark, tmp_warehouse):
    """Review r2-6: point lookup on a bigint key must cast the Python int
    literal to the column type before bucket hashing."""
    t = os.path.join(tmp_warehouse, "tbl")
    df = spark.createDataFrame([(i, f"v{i}") for i in range(50)], "id long, s string")
    materialize.merge_upsert(spark, t, df, ["id"], n_buckets=8)
    for probe in (5, 42):
        got = materialize.lookup_by_key(spark, t, ["id"], (probe,)).collect()
        assert [(r["id"], r["s"]) for r in got] == [(probe, f"v{probe}")]


def test_commit_is_table_atomic(spark, tmp_warehouse):
    """ADVICE r2 medium: the commit point is ONE version-hint swap. A crash
    after data/metadata staging but before the hint swap (simulated by an
    orphan metadata file newer than the hint) must leave readers on the
    previous snapshot, and the replayed commit must not reuse the orphan's
    snapshot id."""
    import json

    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1), ("b", 2)]), ["k"], n_buckets=4)
    sid = materialize.snapshots(t)[-1]["snapshot_id"]
    # simulate the crash window: orphan metadata staged, hint NOT swapped
    orphan = dict(materialize.snapshots(t)[-1])
    orphan["snapshot_id"] = sid + 1
    orphan["buckets"] = {}  # would read as empty if ever trusted
    with open(materialize._meta_path(t, sid + 1), "w") as f:
        json.dump(orphan, f)
    # readers stay on the committed snapshot
    got = {(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {("a", 1), ("b", 2)}
    assert materialize.snapshots(t)[-1]["snapshot_id"] == sid
    # replayed commit skips the orphan id
    materialize.merge_upsert(spark, t, _mk(spark, [("c", 3)]), ["k"], n_buckets=4)
    assert materialize.snapshots(t)[-1]["snapshot_id"] == sid + 2
    got = {r["k"] for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {"a", "b", "c"}


def test_rebucket_table(spark, tmp_warehouse):
    """Growing a table's bucket count is one atomic snapshot; later merges
    and point lookups resolve the NEW layout from table metadata even when
    callers pass the old constant."""
    t = os.path.join(tmp_warehouse, "tbl")
    rows = [(f"k{i}", i) for i in range(200)]
    materialize.merge_upsert(spark, t, _mk(spark, rows), ["k"], n_buckets=4)
    pre_sid = materialize.snapshots(t)[-1]["snapshot_id"]

    materialize.rebucket_table(spark, t, ["k"], new_buckets=16)
    meta = materialize.snapshots(t)[-1]
    assert meta["n_buckets"] == 16
    assert len(meta["buckets"]) > 4  # rows really spread over more buckets
    got = {(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()}
    assert got == set(rows)

    # point lookup resolves the new layout from metadata and still prunes
    hit = materialize.lookup_by_key(spark, t, ["k"], ("k42",))
    assert [(r["k"], r["v"]) for r in hit.collect()] == [("k42", 42)]
    files = [f.replace("file:", "") for f in hit.inputFiles()]
    assert len({f.split("/bucket=")[1].split("/")[0] for f in files}) == 1

    # a later merge hashes into the new layout and touches few buckets
    before = _versions(t)
    materialize.merge_upsert(spark, t, _mk(spark, [("k42", 999)]), ["k"], n_buckets=4)
    after = _versions(t)
    changed = [b for b in after if before.get(b) != after[b]]
    assert len(changed) == 1
    assert materialize.read_graph_table(spark, t).filter(
        F.col("k") == "k42").collect()[0]["v"] == 999

    # time travel across the rebucket boundary reads the OLD layout
    old = materialize.read_graph_table(spark, t, snapshot=pre_sid)
    assert {(r["k"], r["v"]) for r in old.collect()} == set(rows)


def test_table_stats_manifest_level(spark, tmp_warehouse):
    """Commit-time footer stats: totals track merges without any scan, and
    untouched buckets inherit their stats across snapshots."""
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"k{i}", i) for i in range(100)]), ["k"], n_buckets=8
    )
    s1 = materialize.table_stats(t)
    assert s1 is not None and s1["rows"] == 100 and s1["bytes"] > 0
    assert sum(b["rows"] for b in s1["buckets"].values()) == 100

    materialize.merge_upsert(spark, t, _mk(spark, [("extra", 1)]), ["k"], n_buckets=8)
    s2 = materialize.table_stats(t)
    assert s2["rows"] == 101
    # untouched buckets kept identical stats dicts
    same = [b for b in s1["buckets"] if s1["buckets"][b] == s2["buckets"].get(b)]
    assert len(same) >= len(s1["buckets"]) - 1


def test_append_fast_path_clean_buckets(spark, tmp_warehouse):
    """Steady-state ingest: a merge of brand-new keys must NOT rewrite
    existing files — clean buckets keep their dirs and gain one file."""
    t = os.path.join(tmp_warehouse, "tbl")
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"old{i}", i) for i in range(200)]), ["k"], n_buckets=4
    )
    before = materialize.snapshots(t)[-1]["buckets"]
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"new{i}", i) for i in range(50)]), ["k"], n_buckets=4
    )
    after = materialize.snapshots(t)[-1]["buckets"]
    for b, vs in before.items():
        old_dirs = vs if isinstance(vs, list) else [vs]
        new_dirs = after[b] if isinstance(after[b], list) else [after[b]]
        # prior dirs still referenced (no rewrite), new file appended
        assert new_dirs[: len(old_dirs)] == old_dirs
    assert materialize.read_graph_table(spark, t).count() == 250
    # an UPDATE of an existing key dirties exactly its bucket (rewrite)
    materialize.merge_upsert(spark, t, _mk(spark, [("old0", 999)]), ["k"], n_buckets=4)
    got = materialize.read_graph_table(spark, t)
    assert got.count() == 250
    assert got.filter(F.col("k") == "old0").collect()[0]["v"] == 999
    final = materialize.snapshots(t)[-1]["buckets"]
    rewritten = [b for b in final
                 if (final[b] if isinstance(final[b], list) else [final[b]])[:1]
                 != (after[b] if isinstance(after[b], list) else [after[b]])[:1]]
    assert len(rewritten) == 1


def test_auto_and_explicit_compaction(spark, tmp_warehouse):
    """File counts stay bounded: appends accumulate files per bucket until
    AUTO_COMPACT_FILES folds the bucket into a rewrite; compact_table
    squeezes every bucket back to one file with identical rows."""
    t = os.path.join(tmp_warehouse, "tbl")
    rows = []
    for i in range(materialize.AUTO_COMPACT_FILES + 3):
        batch = [(f"b{i}_k{j}", i) for j in range(20)]
        rows += batch
        materialize.merge_upsert(spark, t, _mk(spark, batch), ["k"], n_buckets=2)
    stats = materialize.table_stats(t)
    assert stats["rows"] == len(rows)
    per_bucket_files = [
        len(v if isinstance(v, list) else [v])
        for v in materialize.snapshots(t)[-1]["buckets"].values()
    ]
    assert max(per_bucket_files) <= materialize.AUTO_COMPACT_FILES

    materialize.compact_table(spark, t, max_files=1)
    got = {(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()}
    assert got == set(rows)
    per_bucket_files = [
        len(v if isinstance(v, list) else [v])
        for v in materialize.snapshots(t)[-1]["buckets"].values()
    ]
    assert max(per_bucket_files) == 1
    assert materialize.table_stats(t)["rows"] == len(rows)


def test_commit_conflict_detected_and_offline_ops_raise(spark, tmp_warehouse):
    """Optimistic concurrency (Iceberg CAS): a commit staged against a
    snapshot that is no longer live must raise, not silently install a
    bucket map that drops the winner's buckets."""
    import pytest

    t = os.path.join(tmp_warehouse, "cas")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=4)
    state = materialize._table_state(t)
    stale = state["snapshot_id"]
    # a competing writer lands a snapshot
    materialize.merge_upsert(spark, t, _mk(spark, [("b", 2)]), ["k"], n_buckets=4)
    with pytest.raises(materialize.CommitConflictError):
        materialize._commit_snapshot(
            t, state["buckets"], 4, None, base_sid=stale
        )
    # reader still sees both writers' rows
    got = {r["k"] for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {"a", "b"}


def test_concurrent_merges_no_lost_update(spark, tmp_warehouse):
    """Two writers merging DISJOINT key sets into the same table at the same
    time: the CAS + retry must serialize them so neither writer's buckets
    are lost (pre-CAS, the loser's hint swap silently dropped the winner's
    rewrites). Run a few rounds to actually hit interleavings."""
    from concurrent.futures import ThreadPoolExecutor

    t = os.path.join(tmp_warehouse, "conc")
    materialize.merge_upsert(spark, t, _mk(spark, [("seed", 0)]), ["k"], n_buckets=4)

    def w(tag, n):
        rows = [(f"{tag}{i}", i) for i in range(n)]
        materialize.merge_upsert(spark, t, _mk(spark, rows), ["k"], n_buckets=4)

    for rnd in range(3):
        with ThreadPoolExecutor(max_workers=2) as tp:
            fa = tp.submit(w, f"a{rnd}_", 20)
            fb = tp.submit(w, f"b{rnd}_", 20)
            fa.result()
            fb.result()
        got = {r["k"] for r in materialize.read_graph_table(spark, t).collect()}
        expect = (
            {"seed"}
            | {f"a{r}_{i}" for r in range(rnd + 1) for i in range(20)}
            | {f"b{r}_{i}" for r in range(rnd + 1) for i in range(20)}
        )
        assert got == expect, f"round {rnd}: lost {expect - got}"


def test_schema_evolution_add_column(spark, tmp_warehouse):
    """Iceberg ADD-COLUMN semantics: an update batch introducing a new
    column evolves the table's metadata schema; old data files are never
    rewritten for it and read the column as NULL (including clean buckets
    the append fast path skipped). Narrower updates NULL the omitted
    columns (MERGE SET * from a narrower source); type changes are refused
    before anything is staged; time travel keeps each snapshot's schema."""
    import pytest

    t = os.path.join(tmp_warehouse, "evo")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1), ("b", 2)]), ["k"], n_buckets=4)
    pre = materialize.snapshots(t)[-1]["snapshot_id"]

    upd = spark.createDataFrame([("a", 10, "x"), ("c", 3, "y")],
                                "k string, v long, w string")
    materialize.merge_upsert(spark, t, upd, ["k"], n_buckets=4)
    got = {r["k"]: (r["v"], r["w"])
           for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {"a": (10, "x"), "b": (2, None), "c": (3, "y")}

    old = materialize.read_graph_table(spark, t, snapshot=pre)
    assert "w" not in old.columns
    assert {r["k"] for r in old.collect()} == {"a", "b"}

    materialize.merge_upsert(
        spark, t, spark.createDataFrame([("b", "z")], "k string, w string"),
        ["k"], n_buckets=4,
    )
    got = {r["k"]: (r["v"], r["w"])
           for r in materialize.read_graph_table(spark, t).collect()}
    assert got["b"] == (None, "z") and got["a"] == (10, "x")

    with pytest.raises(ValueError, match="type change"):
        materialize.merge_upsert(
            spark, t, spark.createDataFrame([("a", "oops")], "k string, v string"),
            ["k"], n_buckets=4,
        )

    # point lookup resolves through the evolved schema too
    row = materialize.lookup_by_key(spark, t, ["k"], ("b",)).collect()
    assert len(row) == 1 and row[0]["w"] == "z" and row[0]["v"] is None


def test_orphan_staging_gc_age_gated(spark, tmp_warehouse):
    """A crashed attempt's uuid staging dir is removed once past the TTL;
    a fresh one (a possibly-live concurrent writer) survives."""
    import time

    t = os.path.join(tmp_warehouse, "orph")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=4)
    old = t + "__staging_deadbeef0001"
    fresh = t + "__staging_deadbeef0002"
    os.makedirs(old)
    os.makedirs(fresh)
    past = time.time() - materialize.ORPHAN_STAGING_TTL_S - 10
    os.utime(old, (past, past))
    materialize.merge_upsert(spark, t, _mk(spark, [("b", 2)]), ["k"], n_buckets=4)
    assert not os.path.exists(old)
    assert os.path.exists(fresh)


def test_mixed_schema_bucket_merge_keeps_evolved_column(spark, tmp_warehouse):
    """Review r3: a bucket whose version dirs straddle an add-column clean
    append has MIXED file schemas; a later dirty rewrite must read them
    through the snapshot's recorded schema, not footer inference — else
    the evolved column silently nulls out of every survivor row."""
    t = os.path.join(tmp_warehouse, "mixed")
    # n_buckets=1: everything lands in one bucket by construction
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=1)
    # clean append introducing column w: old v_ dir lacks it, new dir has it
    materialize.merge_upsert(
        spark, t, spark.createDataFrame([("b", 2, "x")], "k string, v long, w string"),
        ["k"], n_buckets=1,
    )
    assert len(materialize.snapshots(t)[-1]["buckets"]["bucket=0"]) == 2
    # dirty rewrite of the mixed bucket (touches existing key "a")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 9)]), ["k"], n_buckets=1)
    got = {r["k"]: (r["v"], r["w"])
           for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {"a": (9, None), "b": (2, "x")}


def test_compact_mixed_schema_bucket_keeps_evolved_column(spark, tmp_warehouse):
    """compact_table over a mixed-schema bucket must also resolve through
    the recorded schema — 'row content unchanged' includes evolved columns."""
    t = os.path.join(tmp_warehouse, "cmixed")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=1)
    materialize.merge_upsert(
        spark, t, spark.createDataFrame([("b", 2, "x")], "k string, v long, w string"),
        ["k"], n_buckets=1,
    )
    materialize.compact_table(spark, t, max_files=1)
    assert len(materialize.snapshots(t)[-1]["buckets"]["bucket=0"]) == 1
    got = {r["k"]: (r["v"], r["w"])
           for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {"a": (1, None), "b": (2, "x")}


def test_gc_spares_fresh_unreferenced_versions(spark, tmp_warehouse):
    """Review r3: a version dir referenced by NO snapshot may belong to a
    concurrent writer mid-install (committed next instant) — GC must
    age-gate it, not delete on sight; once old it is a crash orphan and
    falls out."""
    import time

    t = os.path.join(tmp_warehouse, "gcfresh")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=2)
    b0 = os.path.join(t, "bucket=0")
    os.makedirs(b0, exist_ok=True)
    fresh = os.path.join(b0, "v_9000001")
    os.makedirs(fresh)
    materialize.merge_upsert(spark, t, _mk(spark, [("b", 2)]), ["k"], n_buckets=2)
    assert os.path.exists(fresh), "fresh unreferenced version dir was GC'd"
    past = time.time() - materialize.ORPHAN_STAGING_TTL_S - 10
    os.utime(fresh, (past, past))
    materialize.merge_upsert(spark, t, _mk(spark, [("c", 3)]), ["k"], n_buckets=2)
    assert not os.path.exists(fresh), "aged crash-orphan version dir survived GC"


def test_metadata_files_expired_with_snapshots(spark, tmp_warehouse):
    """Expired snapshots' metadata files are GC'd so the _metadata listing
    (and every snapshots()/GC call) stays O(retention), not O(commits)."""
    t = os.path.join(tmp_warehouse, "mexp")
    n = materialize.SNAPSHOT_RETENTION + 4
    for i in range(n):
        materialize.merge_upsert(spark, t, _mk(spark, [(f"k{i}", i)]), ["k"], n_buckets=2)
    sids = materialize._meta_sids_on_disk(t)
    assert len(sids) == materialize.SNAPSHOT_RETENTION
    assert sids == list(range(n - materialize.SNAPSHOT_RETENTION + 1, n + 1))
    # all rows still present, retained snapshots still time-travelable
    assert materialize.read_graph_table(spark, t).count() == n
    assert materialize.read_graph_table(spark, t, snapshot=sids[0]).count() > 0


def _dirs_of(files):
    """{(bucket=N, v_X)} pairs actually opened by a DataFrame."""
    out = set()
    for f in files:
        parts = f.replace("file:", "").split("/")
        for i, p in enumerate(parts):
            if p.startswith("bucket=") and i + 1 < len(parts):
                out.add((p, parts[i + 1]))
    return out


def test_read_table_changes_append_fast_path(spark, tmp_warehouse):
    """Incremental read between snapshots: append-only buckets contribute
    their new dirs as inserts at FILE granularity — the old data is never
    opened (no row diff). The 100 TB tailing story."""
    t = os.path.join(tmp_warehouse, "cdc")
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"k{i}", i) for i in range(10)]), ["k"], n_buckets=2
    )
    s1 = materialize.snapshots(t)[-1]
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"n{i}", 100 + i) for i in range(5)]), ["k"], n_buckets=2
    )
    s2 = materialize.snapshots(t)[-1]
    ch = materialize.read_table_changes(spark, t, s1["snapshot_id"], s2["snapshot_id"])
    got = {(r["k"], r["v"], r["_change_type"]) for r in ch.collect()}
    assert got == {(f"n{i}", 100 + i, "insert") for i in range(5)}
    # fast path: only dirs NEW in s2 are opened
    old_dirs = {(b, v) for b, vs in s1["buckets"].items()
                for v in (vs if isinstance(vs, list) else [vs])}
    assert _dirs_of(ch.inputFiles()).isdisjoint(old_dirs)


def test_read_table_changes_update_delete_and_from_zero(spark, tmp_warehouse):
    """Rewritten buckets pay a row-level diff: an update surfaces as
    delete(old image) + insert(new image), a delete as delete(old image);
    from_snapshot=0 yields the whole table as inserts."""
    t = os.path.join(tmp_warehouse, "cdc2")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1), ("b", 2), ("c", 3)]),
                             ["k"], n_buckets=1)
    s1 = materialize.snapshots(t)[-1]["snapshot_id"]
    materialize.merge_upsert(
        spark, t, _mk(spark, [("a", 9)]), ["k"], n_buckets=1,
        deletes=_mk(spark, [("b", 2)]).select("k"),
    )
    s2 = materialize.snapshots(t)[-1]["snapshot_id"]
    ch = {(r["k"], r["v"], r["_change_type"])
          for r in materialize.read_table_changes(spark, t, s1, s2).collect()}
    assert ch == {("a", 9, "insert"), ("a", 1, "delete"), ("b", 2, "delete")}
    # from the beginning of history: everything is an insert
    ch0 = {(r["k"], r["v"], r["_change_type"])
           for r in materialize.read_table_changes(spark, t, 0).collect()}
    assert ch0 == {("a", 9, "insert"), ("c", 3, "insert")}
    # expired / unknown snapshot raises like time travel (a from beyond the
    # live sid now trips the reversed-range guard first — equally loud)
    import pytest

    with pytest.raises(ValueError, match="99"):
        materialize.read_table_changes(spark, t, 99)
    with pytest.raises(ValueError, match="no snapshot 99"):
        materialize.read_table_changes(spark, t, 99, 100)


def test_pruned_scan_skips_files_by_column_bounds(spark, tmp_warehouse):
    """Manifest-style file skipping: version dirs whose recorded [min,max]
    for a range-filtered column cannot intersect the predicate are never
    opened; results equal the exact filter over the full table."""
    t = os.path.join(tmp_warehouse, "prune")
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"k{i}", i) for i in range(50)]), ["k"], n_buckets=2
    )
    s1 = materialize.snapshots(t)[-1]
    # clean append of a disjoint value range → new dirs with high bounds
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"n{i}", 1000 + i) for i in range(50)]),
        ["k"], n_buckets=2,
    )
    full = materialize.read_graph_table(spark, t)

    hi = materialize.read_graph_table_pruned(spark, t, {"v": (1000, None)})
    assert {r["k"] for r in hi.collect()} == {f"n{i}" for i in range(50)}
    old_dirs = {(b, v) for b, vs in s1["buckets"].items()
                for v in (vs if isinstance(vs, list) else [vs])}
    assert _dirs_of(hi.inputFiles()).isdisjoint(old_dirs), \
        "low-bound dirs were opened for a high-range predicate"

    lo = materialize.read_graph_table_pruned(spark, t, {"v": (None, 49)})
    assert {r["k"] for r in lo.collect()} == {f"k{i}" for i in range(50)}
    assert _dirs_of(lo.inputFiles()) <= old_dirs

    # bounded both sides + exactness vs full filter
    mid = materialize.read_graph_table_pruned(spark, t, {"v": (40, 1009)})
    expect = {(r["k"], r["v"]) for r in
              full.filter((F.col("v") >= 40) & (F.col("v") <= 1009)).collect()}
    assert {(r["k"], r["v"]) for r in mid.collect()} == expect


def test_rollback_to_snapshot(spark, tmp_warehouse):
    """Rollback commits a NEW snapshot copying a retained one: the live
    read flips back, history keeps moving forward (ids never reuse), the
    rolled-back-over commit stays time-travelable, and the changelog
    between the bad commit and the rollback is its exact inverse."""
    import pytest

    t = os.path.join(tmp_warehouse, "rb")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1), ("b", 2)]), ["k"], n_buckets=2)
    materialize.merge_upsert(spark, t, _mk(spark, [("c", 3)]), ["k"], n_buckets=2)
    s2 = materialize.snapshots(t)[-1]["snapshot_id"]
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 99), ("d", 4)]), ["k"], n_buckets=2)
    s3 = materialize.snapshots(t)[-1]["snapshot_id"]

    s4 = materialize.rollback_table(t, s2)
    assert s4 == s3 + 1
    got = {(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3)}
    # the bad commit remains readable for forensics
    bad = {(r["k"], r["v"])
           for r in materialize.read_graph_table(spark, t, snapshot=s3).collect()}
    assert ("a", 99) in bad and ("d", 4) in bad
    # changelog across the rollback = inverse of the bad merge
    ch = {(r["k"], r["v"], r["_change_type"])
          for r in materialize.read_table_changes(spark, t, s3, s4).collect()}
    assert ch == {("a", 99, "delete"), ("d", 4, "delete"), ("a", 1, "insert")}
    # the table keeps working: merge on top of the rollback
    materialize.merge_upsert(spark, t, _mk(spark, [("e", 5)]), ["k"], n_buckets=2)
    got = {(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {("a", 1), ("b", 2), ("c", 3), ("e", 5)}
    with pytest.raises(ValueError, match="no snapshot 77"):
        materialize.rollback_table(t, 77)


def test_table_maintenance_cli_metadata_commands(spark, tmp_warehouse):
    """The ops CLI's metadata-plane commands (snapshots / stats / rollback /
    gc) run without a SparkSession — pure metadata, the shape that lets a
    100 TB operator script table maintenance without cluster time."""
    import json
    import subprocess
    import sys

    t = os.path.join(tmp_warehouse, "clitbl")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1), ("b", 2)]), ["k"], n_buckets=2)
    materialize.merge_upsert(spark, t, _mk(spark, [("c", 3)]), ["k"], n_buckets=2)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    cli = os.path.join(repo, "jobs", "table_maintenance.py")

    def run(*args):
        p = subprocess.run([sys.executable, cli, "--table", t, *args],
                           capture_output=True, text=True, timeout=60)
        assert p.returncode == 0, p.stderr
        return [json.loads(ln) for ln in p.stdout.strip().splitlines()]

    snaps = run("snapshots")
    assert [s["snapshot_id"] for s in snaps] == [1, 2]
    assert snaps[-1]["rows"] == 3

    st = run("stats")[0]
    assert st["rows"] == 3 and st["n_buckets"] == 2

    rb = run("rollback", "--snapshot", "1")[0]
    assert rb["new_snapshot"] == 3
    got = {(r["k"], r["v"]) for r in materialize.read_graph_table(spark, t).collect()}
    assert got == {("a", 1), ("b", 2)}

    gc = run("gc")[0]
    assert gc["gc"] == "done" and 3 in gc["snapshots"]


def test_cluster_table_tightens_bounds_and_prunes(spark, tmp_warehouse):
    """Sort-order clustering: after cluster_table, a narrow range scan
    opens strictly fewer version dirs than the table holds, content is
    unchanged, pre-cluster snapshots stay time-travelable, and pending MOR
    deletes are folded away."""
    t = os.path.join(tmp_warehouse, "clustered")
    # values interleaved across merges so every pre-cluster dir spans the
    # whole range (bounds useless for pruning)
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"k{i}", i) for i in range(0, 200, 2)]),
        ["k"], n_buckets=2)
    materialize.merge_upsert(
        spark, t, _mk(spark, [(f"k{i}", i) for i in range(1, 200, 2)]),
        ["k"], n_buckets=2)
    # a MOR update leaves pending equality deletes for clustering to fold
    materialize.merge_upsert(
        spark, t, _mk(spark, [("k0", 1000)]), ["k"], n_buckets=2, mode="mor")
    before = {(r["k"], r["v"])
              for r in materialize.read_graph_table(spark, t).collect()}
    pre_sid = materialize.snapshots(t)[-1]["snapshot_id"]

    materialize.cluster_table(spark, t, "v", files_per_bucket=4)

    after_df = materialize.read_graph_table(spark, t)
    assert {(r["k"], r["v"]) for r in after_df.collect()} == before
    st = materialize._table_state(t)
    assert not st.get("deletes"), "clustering must fold MOR deletes"
    all_dirs = {(b, v) for b, vs in st["buckets"].items()
                for v in vs}
    assert len(all_dirs) >= 6  # 2 buckets x ~4 range chunks

    narrow = materialize.read_graph_table_pruned(spark, t, {"v": (10, 30)})
    got = {(r["k"], r["v"]) for r in narrow.collect()}
    assert got == {(k, v) for k, v in before if 10 <= v <= 30}
    opened = _dirs_of(narrow.inputFiles())
    assert opened < all_dirs, "narrow range scan should skip dirs"
    assert len(opened) <= len(all_dirs) // 2

    # time travel to the pre-cluster snapshot still works
    tt = materialize.read_graph_table(spark, t, snapshot=pre_sid)
    assert {(r["k"], r["v"]) for r in tt.collect()} == before

    # point lookup through the clustered layout
    got = materialize.lookup_by_key(spark, t, ["k"], ("k0",)).collect()
    assert [(r["k"], r["v"]) for r in got] == [("k0", 1000)]


def test_cluster_table_rejects_unknown_column(spark, tmp_warehouse):
    import pytest

    t = os.path.join(tmp_warehouse, "clustered_bad")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], 2)
    with pytest.raises(ValueError):
        materialize.cluster_table(spark, t, "nope")


def test_snapshot_tags_survive_retention(spark, tmp_warehouse):
    """Iceberg refs: a tagged snapshot outlives SNAPSHOT_RETENTION expiry
    and stays readable by name; dropping the tag re-enters it into normal
    retention and the next GC expires it."""
    import pytest

    t = os.path.join(tmp_warehouse, "tags")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1), ("b", 2)]), ["k"], 2)
    sid = materialize.snapshots(t)[-1]["snapshot_id"]
    materialize.tag_snapshot(t, "published", sid)
    assert materialize.table_tags(t) == {"published": sid}

    # churn well past retention
    for i in range(materialize.SNAPSHOT_RETENTION + 2):
        materialize.merge_upsert(spark, t, _mk(spark, [("a", 10 + i)]), ["k"], 2)

    got = materialize.read_graph_table(spark, t, tag="published")
    assert {(r["k"], r["v"]) for r in got.collect()} == {("a", 1), ("b", 2)}
    # equivalent by id, because the tag exempted it from expiry
    got2 = materialize.read_graph_table(spark, t, snapshot=sid)
    assert {(r["k"], r["v"]) for r in got2.collect()} == {("a", 1), ("b", 2)}

    # an UNtagged snapshot of the same age is long gone
    with pytest.raises(ValueError):
        materialize.read_graph_table(spark, t, snapshot=sid + 1).collect()

    materialize.drop_tag(t, "published")
    materialize._gc_versions(t)
    with pytest.raises(ValueError):
        materialize.read_graph_table(spark, t, snapshot=sid).collect()
    with pytest.raises(ValueError):
        materialize.read_graph_table(spark, t, tag="published")


def test_tag_unknown_snapshot_rejected(spark, tmp_warehouse):
    import pytest

    t = os.path.join(tmp_warehouse, "tags2")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], 2)
    with pytest.raises(ValueError):
        materialize.tag_snapshot(t, "nope", 99)


def test_cluster_table_composite_sort_order(spark, tmp_warehouse):
    """Composite (lexicographic) sort order: leading-column bounds stay
    tight, content unchanged."""
    t = os.path.join(tmp_warehouse, "clustered_multi")
    rows = [(f"k{i}", (i * 7) % 100) for i in range(200)]
    materialize.merge_upsert(
        spark, t, spark.createDataFrame(rows, "k string, v long"), ["k"], 2)
    before = {(r["k"], r["v"])
              for r in materialize.read_graph_table(spark, t).collect()}
    materialize.cluster_table(spark, t, ["v", "k"], files_per_bucket=4)
    after = materialize.read_graph_table(spark, t)
    assert {(r["k"], r["v"]) for r in after.collect()} == before
    st = materialize._table_state(t)
    all_dirs = {(b, v) for b, vs in st["buckets"].items()
                for v in vs}
    narrow = materialize.read_graph_table_pruned(spark, t, {"v": (0, 10)})
    assert {(r["k"], r["v"]) for r in narrow.collect()} == \
        {kv for kv in before if 0 <= kv[1] <= 10}
    assert len(_dirs_of(narrow.inputFiles())) < len(all_dirs)


def test_cluster_table_zorder_prunes_every_dimension(spark, tmp_warehouse):
    """Z-order clustering: on a 2-D grid where x and y are independent, a
    lexicographic sort order on [x, y] leaves y bounds useless (every
    chunk spans all of y), while the Morton-interleaved key gives each
    chunk a tight hyper-rectangle — a narrow range scan prunes dirs on x
    alone AND on y alone, and content/time-travel are unchanged."""
    # 20x20 grid, one row per cell: x and y are INDEPENDENT (x = i//20,
    # y = i%20) — a correlated pair would give lexicographic chunks tight
    # trailing-column bounds by accident and mask the z-order difference
    rows = [(f"k{i}", i // 20, i % 20) for i in range(400)]
    schema = "k string, x long, y long"

    def build(name, **cluster_kw):
        t = os.path.join(tmp_warehouse, name)
        materialize.merge_upsert(
            spark, t, spark.createDataFrame(rows, schema), ["k"], n_buckets=2)
        materialize.cluster_table(
            spark, t, ["x", "y"], files_per_bucket=8, **cluster_kw)
        st = materialize._table_state(t)
        n_dirs = sum(len(vs) for vs in st["buckets"].values())
        return t, n_dirs

    t_lex, lex_dirs = build("zorder_lex")
    t_z, z_dirs = build("zorder_morton", zorder=True)

    before = {(r["k"], r["x"], r["y"]) for r in
              materialize.read_graph_table(spark, t_z).collect()}
    assert before == {(k, x, y) for k, x, y in rows}

    def dirs_opened(t, preds):
        df = materialize.read_graph_table_pruned(spark, t, preds)
        got = {(r["k"], r["x"], r["y"]) for r in df.collect()}
        want = {(k, x, y) for k, x, y in rows
                if all(lo <= {"x": x, "y": y}[c] <= hi
                       for c, (lo, hi) in preds.items())}
        assert got == want  # pruning must never change results
        return len(_dirs_of(df.inputFiles()))

    # leading column: both layouts prune
    assert dirs_opened(t_z, {"x": (0, 4)}) < z_dirs
    assert dirs_opened(t_lex, {"x": (0, 4)}) < lex_dirs
    # TRAILING column: only the z-ordered layout can prune — lexicographic
    # chunks each span all of y on this grid
    assert dirs_opened(t_lex, {"y": (0, 4)}) == lex_dirs
    assert dirs_opened(t_z, {"y": (0, 4)}) < z_dirs
    # 2-D box: the z-ordered layout opens a small corner of the table
    assert dirs_opened(t_z, {"x": (0, 4), "y": (0, 4)}) <= z_dirs // 2


def test_cluster_table_zorder_rejects_string_column(spark, tmp_warehouse):
    import pytest

    t = os.path.join(tmp_warehouse, "zorder_bad")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], 2)
    with pytest.raises(ValueError, match="z-order"):
        materialize.cluster_table(spark, t, ["k", "v"], zorder=True)
    # table untouched: no version dir was installed by the failed attempt
    assert [(r["k"], r["v"]) for r in
            materialize.read_graph_table(spark, t).collect()] == [("a", 1)]


def test_cluster_table_releases_cache_on_error(spark, tmp_warehouse):
    """The z-order rewrite persists each bucket's rows; a key-guard error
    must not leave that frame cached for the rest of the session."""
    import pytest
    from pyspark import StorageLevel

    t = os.path.join(tmp_warehouse, "zorder_leak")
    rows = [(f"k{i}", i, i * 2) for i in range(20)]
    materialize.merge_upsert(
        spark, t, spark.createDataFrame(rows, "k string, x long, y long"),
        ["k"], n_buckets=2)
    with pytest.raises(ValueError, match="<= 63"):
        materialize.cluster_table(spark, t, ["x", "y"], zorder=True,
                                  zorder_bits=32)
    st = materialize._table_state(t)
    for b in st["buckets"]:
        scan = materialize._snapshot_scan(spark, t, st, buckets=[b],
                                          strict=False)
        assert scan.storageLevel == StorageLevel.NONE, f"{b} left cached"


def test_zorder_key_guards(spark, tmp_warehouse):
    """ADVICE r4: the interleaved key is a BIGINT — bits*ncols > 63 must
    raise (not silently wrap through the sign bit / Java shift-mod), a
    real column named __zkey must be rejected (the rewrite would drop it),
    and wide keys (positions >= 32) must still interleave monotonically —
    i.e. the rank ids are shifted as bigint, not 32-bit int."""
    import pytest

    df = spark.range(64).select(
        F.col("id").alias("a"), (63 - F.col("id")).alias("b"))
    with pytest.raises(ValueError, match="<= 63"):
        materialize._with_zorder_key(df, ["a", "b"], bits=32)
    with pytest.raises(ValueError, match="__zkey"):
        materialize._with_zorder_key(
            df.withColumn("__zkey", F.lit(1)), ["a", "b"], bits=4)
    # bits=16 x 2 cols = 32 key bits: the top positions land at 31..30 —
    # exactly where an int shift would wrap into the sign bit. The 64 rows
    # get 64 distinct ranks per column, and b = 63 - a, so in every bit
    # pair b's bit (the higher position) is the complement of a's:
    # __zkey = C - sum_k bit_k(rank a) * 4^k, strictly DECREASING in a.
    # A wrap would break that order (or the sign).
    keyed = materialize._with_zorder_key(df, ["a", "b"], bits=16)
    got = [r["__zkey"] for r in keyed.orderBy("a").collect()]
    assert all(k >= 0 for k in got), "sign-bit wrap leaked into __zkey"
    assert got == sorted(got, reverse=True)
    assert len(set(got)) == 64


def test_corrupt_tags_file_fails_closed(spark, tmp_warehouse):
    """Review r3-1: a corrupt tags.json must RAISE (and abort GC) rather
    than read as 'no tags' and let GC expire pinned snapshots."""
    import pytest

    t = os.path.join(tmp_warehouse, "tags3")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], 2)
    materialize.tag_snapshot(t, "pin")
    with open(materialize._tags_path(t), "w") as f:
        f.write("{corrupt json")
    with pytest.raises(Exception):
        materialize.table_tags(t)
    with pytest.raises(Exception):
        materialize._gc_versions(t)
    # repair restores normal operation
    with open(materialize._tags_path(t), "w") as f:
        f.write('{"pin": 1}')
    assert materialize.table_tags(t) == {"pin": 1}
    materialize._gc_versions(t)  # no raise
    got = materialize.read_graph_table(spark, t, tag="pin")
    assert [(r["k"], r["v"]) for r in got.collect()] == [("a", 1)]


def test_truncate_fences_concurrent_first_write(spark, tmp_warehouse):
    """truncate commits through the CAS path, so even a writer whose base
    sid is 0 (first write — un-fenceable by a delete-the-metadata truncate)
    conflicts instead of committing a bucket map whose dirs are gone, and
    the table stays recreatable afterwards."""
    import pytest

    t = os.path.join(tmp_warehouse, "tbl_trunc2")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=4)
    base = materialize.snapshots(t)[-1]["snapshot_id"]
    materialize.truncate_table(t)
    # a commit staged against the pre-truncate snapshot must CAS-fail
    from pyspark.sql.types import StructType
    schema = StructType.fromJson(materialize.snapshots(t)[-1]["schema"])
    with pytest.raises(materialize.CommitConflictError):
        materialize._commit_snapshot(t, {}, 4, schema, base_sid=base)
    # the lock file survives and the table is reusable
    assert os.path.exists(os.path.join(t, "_metadata", ".commit.lock"))
    materialize.merge_upsert(spark, t, _mk(spark, [("b", 2)]), ["k"], n_buckets=4)
    got = [(r["k"], r["v"])
           for r in materialize.read_graph_table(spark, t).collect()]
    assert got == [("b", 2)]


def test_read_table_changes_rejects_reversed_range(spark, tmp_warehouse):
    """A reversed snapshot range would emit every change with its type
    inverted — must fail loudly, not corrupt a replica."""
    import pytest

    t = os.path.join(tmp_warehouse, "tbl_rev")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=2)
    materialize.merge_upsert(spark, t, _mk(spark, [("b", 2)]), ["k"], n_buckets=2)
    s1, s2 = (s["snapshot_id"] for s in materialize.snapshots(t)[-2:])
    with pytest.raises(ValueError, match="from_snapshot"):
        materialize.read_table_changes(spark, t, s2, s1)


def test_orphan_staging_gc_spares_live_writers(spark, tmp_warehouse):
    """Staging liveness = the NEWEST mtime in the tree, not the top-level
    dir mtime (which freezes at write start): a >TTL-old dir whose task
    files are still being written must survive GC; a truly dead one goes."""
    import time

    t = os.path.join(tmp_warehouse, "tbl_gc")
    materialize.merge_upsert(spark, t, _mk(spark, [("a", 1)]), ["k"], n_buckets=2)
    old_ts = time.time() - materialize.ORPHAN_STAGING_TTL_S - 60

    dead = t + "__staging_dead"
    os.makedirs(dead)
    with open(os.path.join(dead, "part-0"), "w") as f:
        f.write("x")
    os.utime(os.path.join(dead, "part-0"), (old_ts, old_ts))
    os.utime(dead, (old_ts, old_ts))

    live = t + "__staging_live"
    os.makedirs(live)
    with open(os.path.join(live, "part-0"), "w") as f:
        f.write("x")  # fresh mtime: the writer's tasks are still landing
    os.utime(live, (old_ts, old_ts))  # top-level froze at write start

    materialize._gc_orphan_staging(t)
    assert not os.path.exists(dead)
    assert os.path.exists(live)
