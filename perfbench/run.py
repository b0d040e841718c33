"""Benchmark of the fkg-spark engine.

    python3 perfbench/run.py --workload ingest --seed 7 --seconds 10 --trace 0

Workloads are ``ingest`` and ``neardup_ops`` (see ``workloads.py``);
``--workload all`` runs both in one session. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones (spans plus Spark's
event log). ``--smoke`` shrinks every input for a quick self-test.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the lines before it are a
readable report of every reading with its unit and sample count, and every
check that failed. The exit code is 0 only when every output check passed.
Run from anywhere: the engine package is taken from this file's checkout,
and everything the run writes goes under ``<checkout>/.perfbench_work``,
which is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "financial_knowledge_graphs_spark"


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "neardup_ops", "all"])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


def prepare_env(work: str) -> None:
    """Process-wide settings that must be in place before the JVM starts:
    Python workers import the engine from this checkout, and Spark's and
    Python's scratch space stays inside the checkout."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    sys.path.insert(0, ROOT)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # no hsperfdata files in /tmp from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def start_session(work: str, trace: bool):
    from financial_knowledge_graphs_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            # no zstandard module here; uncompressed logs are plain JSON lines
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
        })
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)
    to exit; the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    finally:
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 - RSS is then driver-only
        return None


def reset_peak_rss(pids) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def run_workload(name, spark, work, args, session_s):
    import workloads as W
    from spans import Tracer

    res = W.Result()
    tracer = Tracer(spark, enabled=bool(args.trace))
    W.install_wrappers(tracer)
    size = W.SIZES["smoke" if args.smoke else "full"]
    wl_work = os.path.join(work, name)
    os.makedirs(wl_work, exist_ok=True)
    t0 = time.time()
    try:
        wl = W.WORKLOADS[name](spark, tracer, wl_work, args.seed, size, res)
        setup_s = session_s + (time.time() - t0)
        pids = [os.getpid()] + [p for p in [jvm_pid(spark)] if p]
        reset_peak_rss(pids)
        W.timed_loop(args.seconds, wl.cycle)
        rss = peak_rss_mb(pids)
        if tracer.enabled:
            wl.trace_extras()
    finally:
        tracer.unwrap_all()
    res.layer["session.start_s"] = session_s
    return wl, res, setup_s, rss


def _terminate(signum, frame) -> None:
    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # one clean-up, not several
    sys.exit(128 + signum)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found next to "
              f"{os.path.relpath(HERE, ROOT)}/", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    # a terminated run still stops the JVM and removes its scratch space
    signal.signal(signal.SIGTERM, _terminate)
    prepare_env(work)
    sys.path.insert(0, HERE)
    names = ["ingest", "neardup_ops"] if args.workload == "all" else [args.workload]
    spark = None
    outcomes = []
    try:
        t0 = time.time()
        spark = start_session(work, bool(args.trace))
        session_s = time.time() - t0 + (t0 - T_START)
        for name in names:
            outcomes.append((name,) + run_workload(name, spark, work, args, session_s))
            session_s = 0.0
        if args.trace:
            # the event log is complete only once the session has stopped
            stop_session(spark)
            spark = None
            from spans import EventLog

            evlog = EventLog(os.path.join(work, "eventlog"))
            for _, wl, res, _, _ in outcomes:
                wl.finish_trace(evlog)
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            parent = os.path.dirname(work)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)
    return emit(outcomes, args)


def emit(outcomes, args) -> int:
    import workloads as W

    attempted = failed = 0
    problems = []
    metrics = {}
    for name, wl, res, setup_s, rss in outcomes:
        attempted += res.attempted
        failed += res.failed
        problems += [f"{name}: {p}" for p in res.problems]
        run_s = W.median(res.run_samples)
        print(f"== {name} (seed {args.seed}, {len(res.run_samples)} cycle(s))")
        for note in res.notes:
            print(f"   {note}")
        rows = [("run_s", run_s, "s", len(res.run_samples)),
                ("setup_s", setup_s, "s", 1), ("peak_rss_mb", rss, "MB", 1),
                ("failed_frac", res.failed / max(1, res.attempted), "ratio",
                 res.attempted)]
        rows += [(k, v, u, n) for k, (v, u, n) in res.report.items()]
        for k, v, u, n in rows:
            print(f"   {k:<28} {v:>14.6g} {u:<6} n={n}")
        if args.trace:
            layer = res.per_layer()
            layer["trace.run_s"] = run_s
            layer["trace.spans"] = float(len(wl.tracer.spans))
            layer["memory.peak_rss_mb"] = rss
            for k, v in layer.items():
                print(f"   layer {k:<50} {v:>14.6g} {W.PER_LAYER_UNITS[k]}")
            found = {k: (v, W.PER_LAYER_UNITS[k]) for k, v in layer.items()}
        else:
            found = {"run_s": (run_s, "s"), "setup_s": (setup_s, "s")}
        # with --workload all, metric names carry the workload as a prefix
        prefix = f"{name}." if len(outcomes) > 1 else ""
        metrics.update({prefix + k: {"value": v, "unit": u}
                        for k, (v, u) in found.items()})
    for p in problems:
        print(f"CHECK FAILED: {p}")
    correct = not problems and failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
