"""Measure the z-order vs lexicographic clustering pruning trade-off.

Builds two copies of a replicated events table (independent `user_id` /
`value` dimensions), clusters one lexicographically on [user_id, value]
and one with the Morton-interleaved key (`cluster_table(zorder=True)`),
then counts version dirs opened by `read_graph_table_pruned` for the
three canonical predicate shapes (leading-only, trailing-only, 2-D box).
Row results are asserted identical between layouts — pruning must never
change content. Results recorded in BENCH/BASELINE.md §4e.

Usage: python jobs/bench_zorder.py [events_parquet] [replicate]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from financial_knowledge_graphs_spark.operators import materialize as mat  # noqa: E402
from financial_knowledge_graphs_spark.session import get_spark  # noqa: E402


def main() -> None:
    events = sys.argv[1] if len(sys.argv) > 1 else \
        "/root/testdata/sf0.1/events.parquet"
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 16

    spark = get_spark("bench-zorder", master="local[32]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    ev = spark.read.parquet(events)
    rep = spark.range(replicate).select(F.col("id").alias("r"))
    big = (ev.crossJoin(rep)
           .select((F.col("event_id") * replicate + F.col("r")).alias("event_id"),
                   "user_id", "value"))

    # quantile-correct predicate bounds so each shape selects ~10% per dim
    uid_hi, val_p10 = big.select(
        F.expr("percentile_approx(user_id, 0.1)"),
        F.expr("percentile_approx(value, 0.1)"),
    ).first()
    cases = {
        "leading user_id 10%": {"user_id": (0, int(uid_hi))},
        "trailing value p10": {"value": (0.0, float(val_p10))},
        "2-D box 10% x p10": {"user_id": (0, int(uid_hi)),
                              "value": (0.0, float(val_p10))},
    }

    root = tempfile.mkdtemp(prefix="bench_zorder_")
    try:
        tables = {}
        for name, kw in [("lex", {}), ("zorder", {"zorder": True})]:
            t = os.path.join(root, name)
            mat.merge_upsert(spark, t, big, ["event_id"], n_buckets=16)
            t0 = time.time()
            mat.cluster_table(spark, t, ["user_id", "value"],
                              files_per_bucket=8, **kw)
            st = mat._table_state(t)
            ndirs = sum(len(v) for v in st["buckets"].values())
            print(f"{name}: cluster_wall={time.time() - t0:.1f}s "
                  f"dirs={ndirs}", flush=True)
            tables[name] = (t, ndirs)
        for case, preds in cases.items():
            line, counts = [case], []
            for name, (t, ndirs) in tables.items():
                df = mat.read_graph_table_pruned(spark, t, preds)
                counts.append(df.count())
                opened = len({os.path.dirname(f) for f in df.inputFiles()})
                line.append(f"{name}: {opened}/{ndirs} dirs")
            assert counts[0] == counts[1], "layouts must return identical rows"
            line.append(f"rows={counts[0]}")
            print(" | ".join(line), flush=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
