"""Dump physical plans for the headline queries to BENCH/PLANS.md.

Evidence that the declared plans compile to what a 100 TB run needs:
filters/projections pushed into the parquet scan (PushedFilters/ReadSchema),
wide whole-stage-codegen spans, broadcast joins for small dims, AQE nodes.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PICK = [
    "q_quality_filter",        # predicate pushdown + column pruning
    "q_pricing_summary",       # partial/final hash agg, codegen
    "q_orders_join_agg",       # broadcast dim join
    "q_top_orders_per_customer",  # window top-N
    "q_minhash_lsh",           # blocked pair join
    "q_ngram_jaccard",         # ppjoin prefix filter (costliest bench query)
    "q_embedding_neardup_lsh", # sign-LSH bucketed pair join
    "q_ann_topk",              # vector scoring + rank
    "kg_graph_suite",          # aggs + joins over the bucketed graph table
    "q_chunk_documents",       # shuffle-free chunking map stage
    "q_rolling_agg",           # hub-chunked rolling window (ghost carry-in rows)
    "q_sessionize",            # hub-chunked gap sessionize (chunk + stitch)
    "q_asof_join",             # union-sort-merge as-of (1 Exchange, 0 Join)
    "q_pack_chunks",           # window + agg sharing one partitioning
    "q_key_skew_profile",      # distributed top-K (TakeOrderedAndProject)
    "q_salted_join",           # deterministic-salt skew join
    "q_tfidf_top_terms",       # df-agg join back (AQE decides broadcast)
    "q_decontaminate",         # broadcast test-gram semi-join, big side scanned once
]


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entry
    from financial_knowledge_graphs_spark.session import get_spark

    spark = get_spark("fkg-plans", master="local[4]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    out = ["# PLANS — physical plans of headline queries (`explain formatted`)",
           "",
           f"Source tables: `{sf_dir}`. Things to check: `PushedFilters` and a",
           "pruned `ReadSchema` on every scan, `WholeStageCodegen` spans around",
           "non-UDF stages, `BroadcastHashJoin` for dimension joins, and",
           "`AdaptiveSparkPlan` as the root (AQE on).", ""]
    for name in PICK:
        df = qs[name](spark, sf_dir)
        out.append(f"## {name}\n\n```\n{plan_of(df).strip()}\n```\n")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote BENCH/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
