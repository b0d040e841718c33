"""SparkSession factory with scale-oriented defaults.

The sandbox runs local[N] on one JVM; the config set below is the same one a
1000-executor deployment would ship (AQE + skew-join splitting on, Arrow
vectorization on, sane shuffle sizing), so plans exercised in tests are the
plans we'd get on a real cluster.

``local_frame`` is the one way the engine turns driver-side Python rows
(run registry, metrics, empty typed sides, a BFS seed, a driver-computed
mapping delta) into a DataFrame: an Arrow table the JVM plans as a
``LocalRelation``, so building and reading such a frame starts no Python
worker and runs no Spark job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, TimestampType

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "fkg-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the engine.

    Key choices, and why they survive a 100x scale-up:
    - AQE on + skew-join on: hub entities (a major bank in ~30% of docs)
      produce skewed join keys; AQE splits those partitions at runtime.
    - ``spark.sql.shuffle.partitions`` is a static floor of
      ``max(64, 2 x cores)`` unless ``shuffle_partitions`` is passed. AQE
      coalesces every shuffle down to the data, cached plans included
      (``canChangeCachedPlanOutputPartitioning``), so a small batch runs a
      few tasks per stage while a large one keeps the floor's parallelism.
    - Arrow enabled with a bounded batch size so the pandas-UDF extraction
      stage streams fixed-size record batches instead of whole partitions.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    cores = 32
    if master.startswith("local[") and master[6:-1].isdigit():
        cores = int(master[6:-1])
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's post-shuffle coalescing targets BYTES (64MB default) and is
        # core-oblivious: a 150MB shuffle collapses to ~3 tasks no matter how
        # many cores exist, capping CPU-heavy downstream stages (parquet
        # compression, wide sorts) far below the cluster. 8MB advisory keeps
        # coalesced stages at >= core-count tasks for our table sizes while
        # still folding away empty partitions.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(8 * 1024 * 1024))
        # Static shuffle partitions get a floor of 64 (not bare 2 x cores):
        # AQE can only coalesce DOWN, so a low-core session would otherwise
        # hard-cap wide shuffles (a 2-core run sorting a 2GB window shuffle
        # in 4 giant spill-prone tasks). Same value at every parallelism
        # level = same plan, which is what a fair N vs 4N comparison needs.
        # The floor costs a small batch nothing only because AQE may also
        # coalesce the shuffles under a persisted frame: with this flag off,
        # a cached plan keeps its 64-way output partitioning, and so does
        # every stage that reads it (a 1.8k-doc cold batch on 4 cores ran
        # 2,978 tasks with it off, 325 with it on).
        .config(
            "spark.sql.shuffle.partitions", str(shuffle_partitions or max(64, 2 * cores))
        )
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 32MB scan splits (not the 128MB default): the corpus ships in
        # O(10) ~100MB files, and file-granular splits leave a 2-wave
        # straggler tail on an 8-core run (10 tasks / 8 cores). Finer splits
        # keep every core busy; at petabyte scale the file count dwarfs the
        # core count and this knob stops mattering.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # Shuffle spill dir: prefer RAM-backed tmpfs when present AND large
    # enough. On a real cluster every executor brings its own local disks, so
    # shuffle bandwidth scales with the node count; a single shared disk is a
    # one-box artifact that caps shuffle-heavy stages regardless of core
    # count. Docker defaults /dev/shm to 64MB — spilling there would ENOSPC
    # mid-job (ADVICE r1) — so tmpfs is only used when it has real capacity;
    # otherwise Spark's default local dir stands. Overridable via
    # SPARK_GRAFT_LOCAL_DIR.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 8 * 1024**3:  # >= 8 GiB free
                local_dir = "/dev/shm/spark-local"
        except OSError:
            pass
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows, schema: StructType | str) -> DataFrame:
    """A DataFrame over driver-sized ``rows`` (tuples in ``schema`` order).

    ``spark.createDataFrame(<python list>)`` parallelizes pickled rows into
    ``defaultParallelism`` Python-worker tasks, and pays them again on every
    action over the frame: ~200 ms and one job per small ops-table append,
    and an empty frame inside a plan (the resume anti-join's checkpoint
    side) costs the same. Handed over as a ``pyarrow.Table`` the rows reach
    the JVM as a ``LocalRelation``: no Python worker, no job, and Catalyst
    can fold expressions over it on the driver.

    The arrays are built with the schema's own Arrow types, so a value of
    the wrong type (a ``str`` in an ``int`` column) or a null in a
    non-nullable column raises here, as ``createDataFrame``'s
    ``verifySchema`` does. Timestamps go through ``TimestampType.toInternal``
    so a naive ``datetime`` means what it means on the list path. Pass
    tuples, not a pandas frame: ``createDataFrame`` takes its Arrow path
    for pandas only when it has rows, so an empty one still starts workers.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    rows = list(rows)
    width = len(schema.fields)
    bad = next((r for r in rows if len(r) != width), None)
    if bad is not None:
        raise ValueError(f"local_frame: row {bad!r} has {len(bad)} fields, "
                         f"schema has {width}")
    arrow_schema = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * width
    arrays = []
    for field, col, atype in zip(schema.fields, cols, arrow_schema.types):
        if not field.nullable and None in col:
            raise ValueError(f"local_frame: null in non-nullable {field.name!r}")
        if isinstance(field.dataType, TimestampType):
            col = [field.dataType.toInternal(v) for v in col]
        arrays.append(pa.array(col, type=atype))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow_schema),
                                 schema)
