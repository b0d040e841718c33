"""Streaming CDC source: tail a bucketed graph table's snapshot log.

The Spark 4 Python Data Source API (`pyspark.sql.datasource`) lets the
snapshot-commit log double as a STREAMING source — the Iceberg
"streaming read" analog for the emulated tables:

    spark.dataSource.register(GraphTableChangesDataSource)
    df = (spark.readStream.format("graph_table_changes")
          .option("path", table_path).load())

Each micro-batch is the row-level delta between the last consumed snapshot
and the live one — exactly ``materialize.read_table_changes(from, to)``
semantics (the parity test asserts byte-equality against it):

- offsets ARE snapshot ids (initial = 0, i.e. the whole table arrives as
  inserts first; ``.option("from_snapshot", N)`` starts later); restart
  resumes from the checkpointed snapshot id.
- planning shares the batch CDC classification (``_changed_buckets``): a
  bucket whose version-dir set only grew (append fast path) ships its NEW
  dirs at FILE granularity — one InputPartition per version dir, zero
  old-data I/O; only rewritten / MOR-touched buckets pay a per-bucket
  resolved diff.
- ``read()`` runs on executors WITHOUT a SparkSession, so the per-partition
  work is pyarrow/pandas: schema-evolved reads resolve missing columns to
  NULL through the TO snapshot's schema, merge-on-read equality deletes
  apply with the same strictly-lower-sequence rule as ``_snapshot_scan``,
  and the rewrite diff is a multiset difference (updates surface as
  delete(old) + insert(new)).

Scale shape: per-version-dir insert partitions parallelize the common
append-only tail arbitrarily wide; diff partitions are per-bucket (the same
granularity Iceberg CDC pays for rewritten files). The driver never reads
data files — planning is pure snapshot-metadata JSON.
"""

from __future__ import annotations

import os
from collections import Counter
from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

_CHANGE_COL = "_change_type"


# ---------------------------------------------------------------------------
# executor-side helpers (no SparkSession; pyarrow/pandas only)
# ---------------------------------------------------------------------------

def _null_safe(v):
    """Hashable null-safe encoding: None (incl. NaN) and values never
    collide. Caveat (shared with every pandas-side path here): pyarrow's
    to_pandas folds a FLOAT column's NULLs and literal NaNs into NaN, so
    that one distinction is unrepresentable post-conversion — this engine's
    merge keys are string/integral (graph tables), where null-safety is
    exact."""
    import pandas as pd

    try:
        if v is None or (pd.isna(v) if not isinstance(v, (list, tuple, dict)) else False):
            return (0,)
    except (TypeError, ValueError):
        pass
    return (1, v)


def _pdf_of(paths: list[str], fields: list[str]):
    """Concatenate parquet dirs/files into one pandas frame resolved through
    the target field list: missing columns (pre-schema-evolution files) read
    as NULL, extras are dropped, order is canonical."""
    import pandas as pd
    import pyarrow.parquet as pq

    frames = []
    for p in paths:
        files = (
            [os.path.join(p, f) for f in sorted(os.listdir(p))
             if f.endswith(".parquet")]
            if os.path.isdir(p) else [p]
        )
        for f in files:
            frames.append(pq.read_table(f).to_pandas())
    if not frames:
        return pd.DataFrame({c: [] for c in fields})
    df = pd.concat(frames, ignore_index=True)
    if not fields:  # delete-key dirs: keep their own columns as-is
        return df
    for c in fields:
        if c not in df.columns:
            df[c] = None
    return df[fields]


def _rows_of(pdf, fields: list[str], types: dict[str, str]) -> list[tuple]:
    """Canonical python tuples (null-safe NaN→None, numpy→python scalars)."""
    import pandas as pd

    out = []
    for rec in pdf.itertuples(index=False, name=None):
        row = []
        for c, v in zip(fields, rec):
            if v is None or (not isinstance(v, (list, tuple, dict)) and pd.isna(v)):
                row.append(None)
                continue
            t = types.get(c, "")
            if t in ("bigint", "int", "smallint", "tinyint"):
                row.append(int(v))
            elif t in ("double", "float"):
                row.append(float(v))
            elif t == "boolean":
                row.append(bool(v))
            elif t == "string":
                row.append(str(v))
            elif t.startswith("timestamp"):
                row.append(v.to_pydatetime() if hasattr(v, "to_pydatetime") else v)
            else:
                row.append(v)
        out.append(tuple(row))
    return out


def _resolved_rows(table_path: str, bucket: str, data: list, dels: list,
                   fields: list[str], types: dict[str, str]) -> list[tuple]:
    """The pandas twin of `_snapshot_scan`'s per-bucket resolved read:
    equality deletes at sequence S hide matching rows in data dirs with
    sequence < S only (same-commit re-inserts stay visible)."""
    all_rows: list[tuple] = []
    # hidden key sets per delete sequence, null-safe encoded
    del_sets: list[tuple[int, list[str], set]] = []
    for dname, dseq in dels:
        dpdf = _pdf_of([os.path.join(table_path, bucket, dname)], [])
        kcols = list(dpdf.columns)
        keys = {
            tuple(_null_safe(v) for v in rec)
            for rec in dpdf.itertuples(index=False, name=None)
        }
        del_sets.append((int(dseq), kcols, keys))
    for vdir, seq in data:
        pdf = _pdf_of([os.path.join(table_path, bucket, vdir)], fields)
        if len(pdf) == 0:
            continue
        mask = None
        for dseq, kcols, keys in del_sets:
            if dseq <= int(seq) or not keys:
                continue
            # vectorized null-safe key membership: one encoded Series per
            # key column, zipped — no per-row Python lambda (review r3-6)
            import pandas as pd

            encoded = [pdf[k].map(_null_safe) for k in kcols]
            row_keys = pd.Series(list(zip(*encoded)), index=pdf.index)
            hit = row_keys.isin(keys)
            mask = hit if mask is None else (mask | hit)
        if mask is not None:
            pdf = pdf[~mask]
        all_rows.extend(_rows_of(pdf, fields, types))
    return all_rows


class _ChangesPartition(InputPartition):
    def __init__(self, spec: dict):
        self.spec = spec


class _ChangesStreamReader(DataSourceStreamReader):
    def __init__(self, table_path: str, schema: StructType, start_sid: int,
                 pin: str | None = None):
        self.table_path = table_path
        self.schema = schema
        self.start_sid = start_sid
        self.pin = pin
        self.fields = [f.name for f in schema.fields if f.name != _CHANGE_COL]
        self.types = {
            f.name: f.dataType.simpleString() for f in schema.fields
        }

    # -- offsets ------------------------------------------------------------
    def initialOffset(self) -> dict:
        return {"sid": int(self.start_sid)}

    def latestOffset(self) -> dict:
        from ..operators import materialize as m

        return {"sid": int(m._live_sid(self.table_path))}

    def commit(self, end: dict) -> None:
        pass  # pinning happens at PLANNING time (see partitions); for a
        # Trigger.AvailableNow query the final batch's commit() only runs
        # at the START of the next query — far too late to protect the
        # offset from retention GC in between.

    # -- planning (driver; snapshot metadata only, no data I/O) --------------
    def partitions(self, start: dict, end: dict):
        from ..operators import materialize as m

        a_sid, b_sid = int(start["sid"]), int(end["sid"])
        # same reversed-range guard as read_table_changes: a corrupted or
        # time-regressed offset pair (e.g. a lost hint rename resurrecting
        # an older live sid) must fail loudly, not emit the diff with every
        # change type inverted into a replica.
        if a_sid > b_sid:
            raise ValueError(
                f"CDC offsets regressed for {self.table_path}: "
                f"start={a_sid} > end={b_sid}")
        # consumer-offset pinning (`.option("pin", name)`): tag this
        # batch's END snapshot NOW — it is the next batch's (and, after an
        # AvailableNow stop, the next RUN's) diff base, and pinning at
        # planning time keeps it alive across arbitrarily long consumer
        # downtime (the Iceberg consumer-ref pattern; commit() is too late,
        # see above). The START stays pinned under `{pin}.base` until the
        # NEXT batch plans: a crash after planning but before completion
        # replays this same (start, end) batch from the WAL, so releasing
        # the start at planning time would expose the replay's diff base
        # to retention GC during the downtime. Both tags are re-applied
        # idempotently on replay. Decommission a consumer by dropping both.
        if self.pin and b_sid > 0:
            if a_sid > 0:
                m.tag_snapshot(self.table_path, f"{self.pin}.base", a_sid)
            m.tag_snapshot(self.table_path, self.pin, b_sid)
        if a_sid == b_sid:
            return [_ChangesPartition({"kind": "noop"})]

        a, b, grown, rewritten = m._changed_buckets(self.table_path, a_sid, b_sid)
        parts = [
            _ChangesPartition({"kind": "insert_dir", "bucket": bk, "dir": v})
            for bk, dirs in grown.items() for v in dirs
        ]

        def _side(snap: dict, bk: str) -> tuple[list, list]:
            seq = snap.get("dir_seq") or {}
            data = [[v, int(seq.get(f"{bk}/{v}", 0))]
                    for v in sorted(snap["buckets"].get(bk, []))]
            dels = [[d, int(s)] for d, s in (snap.get("deletes") or {}).get(bk, [])]
            return data, dels

        for bk in rewritten:
            data_a, dels_a = _side(a, bk)
            data_b, dels_b = _side(b, bk)
            parts.append(_ChangesPartition({
                "kind": "diff", "bucket": bk, "data_a": data_a,
                "data_b": data_b, "dels_a": dels_a, "dels_b": dels_b,
            }))
        return parts or [_ChangesPartition({"kind": "noop"})]

    # -- executor-side read ---------------------------------------------------
    def read(self, partition: _ChangesPartition) -> Iterator[tuple]:
        spec = partition.spec
        if spec["kind"] == "noop":
            return
        if spec["kind"] == "insert_dir":
            p = os.path.join(self.table_path, spec["bucket"], spec["dir"])
            pdf = _pdf_of([p], self.fields)
            for row in _rows_of(pdf, self.fields, self.types):
                yield row + ("insert",)
            return
        # rewritten / MOR bucket: resolved multiset diff.
        # MEMORY BOUND (ADVICE r3): both snapshots' resolved rows for this
        # bucket are materialized as Python lists + Counters in ONE executor
        # task, so peak memory ≈ 2 × (bucket bytes). The bound is therefore
        # set by bucket sizing, not table size: keep buckets ≲ a few hundred
        # MB via rebucket_table (operators/materialize.py) before streaming
        # CDC off a table whose buckets have grown past that — the same
        # operational knob the batch layer documents. The batch
        # read_table_changes path streams rewritten buckets through Spark
        # and has no such bound; prefer it for one-shot backfills of tables
        # with oversized buckets.
        rows_a = _resolved_rows(self.table_path, spec["bucket"],
                                spec["data_a"], spec["dels_a"],
                                self.fields, self.types)
        rows_b = _resolved_rows(self.table_path, spec["bucket"],
                                spec["data_b"], spec["dels_b"],
                                self.fields, self.types)
        ca, cb = Counter(rows_a), Counter(rows_b)
        for row in (cb - ca).elements():
            yield row + ("insert",)
        for row in (ca - cb).elements():
            yield row + ("delete",)


class GraphTableChangesDataSource(DataSource):
    """`spark.readStream.format("graph_table_changes")` over a bucketed
    snapshot table (see module docstring)."""

    @classmethod
    def name(cls) -> str:
        return "graph_table_changes"

    def _table_path(self) -> str:
        p = self.options.get("path")
        if not p:
            raise ValueError("graph_table_changes requires .option('path', table)")
        return p

    def schema(self) -> StructType:
        from ..operators import materialize as m

        state = m._table_state(self._table_path())
        if not state or not state.get("schema"):
            raise ValueError(
                f"{self._table_path()}: no committed snapshot with a recorded "
                f"schema to stream from")
        base = StructType.fromJson(state["schema"])
        return base.add(_CHANGE_COL, "string", False)

    def streamReader(self, schema: StructType) -> _ChangesStreamReader:
        start = int(self.options.get("from_snapshot", 0))
        return _ChangesStreamReader(self._table_path(), schema, start,
                                    pin=self.options.get("pin"))


def stream_apply_changes(spark, src_table: str, dst_table: str,
                         keys: list[str], n_buckets: int = 32,
                         checkpoint: str | None = None, mode: str = "cow",
                         pin: str | None = "auto"):
    """Table replication = the CDC stream applied: tail ``src_table``'s
    snapshot log and merge each micro-batch's delta into ``dst_table``
    (inserts/updates via the keyed MERGE, pure deletes via its WHEN MATCHED
    DELETE branch). After the stream drains, the replica's resolved rows
    equal the source's — the Iceberg "CDC apply" pattern for keeping a
    downstream (differently bucketed, differently placed) copy fresh
    without re-reading the source table.

    Effectively-once: offsets are checkpointed snapshot ids, and the apply
    is a keyed merge — replaying a batch upserts identical rows and
    re-deletes absent keys, both no-ops. A key that is updated within one
    batch arrives as delete(old)+insert(new); the insert's upsert subsumes
    the delete, so only keys with NO surviving insert go to the delete
    branch. Runs with Trigger.AvailableNow (drain-and-stop; call again to
    catch up).

    Retention: by default the consumer PINS its committed offset on the
    source (``pin="auto"`` → a tag named from the replica path, applied at
    batch PLANNING time; the batch's start stays pinned under
    ``{pin}.base`` until the next batch plans, so even a crash mid-batch
    replays cleanly), so the diff base survives GC no matter how far
    behind the replica falls — drop BOTH tags (``name`` and
    ``name + ".base"``) to decommission the consumer. With ``pin=None``
    the raw retention bound applies (an offset
    older than SNAPSHOT_RETENTION commits raises, like an Iceberg
    incremental scan past expiry); re-seed from a full read then."""
    import hashlib
    import pyspark.sql.functions as F  # noqa: N812

    from ..operators.materialize import merge_upsert

    spark.dataSource.register(GraphTableChangesDataSource)

    def _apply(batch, _bid) -> None:
        if batch.isEmpty():
            return
        ins = batch.filter(F.col(_CHANGE_COL) == "insert").drop(_CHANGE_COL)
        dks = (
            batch.filter(F.col(_CHANGE_COL) == "delete")
            .select(*keys).distinct()
            .join(ins.select(*keys).distinct(), keys, "left_anti")
        )
        merge_upsert(spark, dst_table, ins, keys, n_buckets,
                     deletes=None if dks.isEmpty() else dks, mode=mode)

    if pin == "auto":
        pin = "cdc-" + hashlib.md5(
            os.path.abspath(dst_table).encode()).hexdigest()[:10]
    r = spark.readStream.format("graph_table_changes").option("path", src_table)
    if pin:
        r = r.option("pin", pin)
    reader = r.load()
    w = reader.writeStream.foreachBatch(_apply).trigger(availableNow=True)
    if checkpoint:
        w = w.option("checkpointLocation", checkpoint)
    return w.start()
