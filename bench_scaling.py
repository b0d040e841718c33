"""Scaling-efficiency protocol (north rule: ≥0.8 efficiency from N to 4N
executors; sandbox substitute per driver instruction: the same job at two
parallelism levels — N and 4N cores — on the same input).

Level choice: local[2] vs local[8] on this 32-core box. local[32] would
oversubscribe the machine (32 JVM task threads + 32 Python UDF workers
> 32 cores, and per-core clocks drop under full load), which is a
single-machine artifact a real 4N-executor cluster does not have; 2 vs 8
cores keeps both levels un-contended so the ratio measures the ENGINE's
scalability, not the sandbox's thermal envelope.

Protocol details:
- separate JVM per measurement (no warm-cache bleed between levels), and
  the corpus is built in a child process too: py4j's gateway JVM outlives
  ``spark.stop()``, so a parent-built corpus would leave that JVM resident
  beside every level;
- interleaved repeats (low, high, low, high) with min-of-repeats per level —
  the sandbox shares cores with neighbors and single-core speed was observed
  drifting ~2x over minutes; interleaving + min filters that noise;
- identical configs at both levels except master.

Usage: python bench_scaling.py [n_docs] [low_cpus] [high_cpus] [repeats]
Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.abspath(__file__))

RUNNER = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
from financial_knowledge_graphs_spark.session import get_spark
from financial_knowledge_graphs_spark.pipeline import PipelineConfig, run_pipeline

cpus = int(sys.argv[1]); corpus = sys.argv[2]
spark = get_spark("fkg-scaling", master=f"local[{{cpus}}]",
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(os.path.join(corpus, "documents"))
alias = spark.read.parquet(os.path.join(corpus, "alias_dict"))
wh = tempfile.mkdtemp(prefix="fkg_scale_wh_")
t0 = time.time()
res = run_pipeline(spark, docs, alias, PipelineConfig(warehouse=wh))
dt = time.time() - t0
shutil.rmtree(wh, ignore_errors=True)
print("RESULT " + json.dumps({{"cpus": cpus, "seconds": round(dt, 3),
                               "docs": res.docs_processed,
                               "docs_per_sec": round(res.docs_processed / dt, 3)}}))
spark.stop()
"""


CORPUS = r"""
import os, sys
sys.path.insert(0, {repo!r})
from financial_knowledge_graphs_spark import fixtures
from financial_knowledge_graphs_spark.session import get_spark

n_docs = int(sys.argv[1]); corpus = sys.argv[2]; cpus = int(sys.argv[3])
spark = get_spark("fkg-gen", master=f"local[{{cpus}}]",
                  extra_conf={{"spark.ui.showConsoleProgress": "false"}})
spark.sparkContext.setLogLevel("ERROR")
os.makedirs(corpus, exist_ok=True)
fixtures.write_corpus(spark, corpus, n_docs=n_docs, seed=42)
open(os.path.join(corpus, "_COMPLETE"), "w").write("ok")
spark.stop()
print("RESULT {{}}")
"""


def run_child(script: str, *args: str) -> dict:
    """Run ``script`` in a fresh Python process (and so a fresh JVM) and
    return the JSON of its ``RESULT`` line."""
    out = subprocess.run(
        [sys.executable, "-c", script.format(repo=REPO), *args],
        capture_output=True, text=True, timeout=7200, cwd=REPO,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT line (rc={out.returncode}):\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def ensure_corpus(n_docs: int, cpus: int) -> str:
    """Build the corpus once, at the high level's core count: the session
    default (``SPARK_GRAFT_CPUS`` or 32 threads) can oversubscribe a small
    host. The rows do not depend on the core count (seeded per doc)."""
    corpus = os.path.join(REPO, ".fixtures", f"bench_corpus_n{n_docs}_s42")
    if not os.path.exists(os.path.join(corpus, "_COMPLETE")):
        run_child(CORPUS, str(n_docs), corpus, str(cpus))
    return corpus


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    low_cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    high_cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    repeats = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    corpus = ensure_corpus(n_docs, high_cpus)

    lows, highs = [], []
    for i in range(repeats):
        lows.append(run_child(RUNNER, str(low_cpus), corpus))
        highs.append(run_child(RUNNER, str(high_cpus), corpus))
        print(f"repeat {i}: low={lows[-1]['seconds']}s high={highs[-1]['seconds']}s",
              file=sys.stderr)
    low = min(lows, key=lambda r: r["seconds"])
    high = min(highs, key=lambda r: r["seconds"])
    ratio = high_cpus / low_cpus
    eff = (low["seconds"] / high["seconds"]) / ratio
    per_repeat = [
        round((l["seconds"] / h["seconds"]) / ratio, 2)
        for l, h in zip(lows, highs)
    ]
    result = {
        "n_docs": n_docs,
        "low": low,
        "high": high,
        "all_runs": {"low": [r["seconds"] for r in lows],
                     "high": [r["seconds"] for r in highs]},
        "per_repeat_efficiency": per_repeat,
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
    }
    print(json.dumps(result))
    md = f"""
## 4. Measured results (this engine, deterministic fixture corpus)

Protocol: identical end-to-end KG pipeline job (read interleaved docs →
extract → link → canonicalize → materialize graph + ops tables), same
{n_docs:,}-doc corpus, separate JVM per run, interleaved repeats
(min of {repeats} per level), local[{low_cpus}] vs local[{high_cpus}] —
the sandbox substitute for N vs 4N executors mandated by the driver.
{low_cpus}/{high_cpus} cores (not 8/32) because local[32] on the 32-core
sandbox oversubscribes: 32 JVM task threads + 32 Python UDF workers exceed
the machine, measuring contention instead of engine scalability; at
{low_cpus} vs {high_cpus} cores both levels run un-contended, which is the
regime a real N → 4N executor scale-up operates in.

| parallelism | wall time (s) | docs processed | docs/sec |
|---|---|---|---|
| local[{low_cpus}]  | {low['seconds']} | {low['docs']} | {low['docs_per_sec']} |
| local[{high_cpus}] | {high['seconds']} | {high['docs']} | {high['docs_per_sec']} |

Raw repeats (s): low {result['all_runs']['low']}, high {result['all_runs']['high']}.

Scaling efficiency = (T{low_cpus} / T{high_cpus}) / {ratio:g} = **{eff:.3f}**
(target ≥ 0.8 → {"PASS" if eff >= 0.8 else "FAIL"}).

Per-repeat efficiencies (paired within each interleaved repeat):
{", ".join(str(x) for x in per_repeat)} — the headline number pairs the min
of each level across repeats (conservative under the sandbox's per-core
clock drift).
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    # preserve any sections after §4 (spark-submit validation etc.)
    target = os.path.join(REPO, "BENCH", "BASELINE.md")
    tail = ""
    if os.path.exists(target):
        cur = open(target).read()
        # keep EVERYTHING after the §4 measurement block (4b/4c analyses,
        # §5 smoke) — only the §4 table/efficiency is regenerated
        i = min((j for j in (cur.find("## 4b"), cur.find("## 5."))
                 if j >= 0), default=-1)
        if i >= 0:
            tail = "\n" + cur[i:]
    with open(target, "w") as f:
        f.write("# BENCH — measured baseline numbers\n" + md + tail)


if __name__ == "__main__":
    main()
