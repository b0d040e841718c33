"""The engine attributes perfbench's traced runs wrap must exist: an engine
rename (say ``materialize.connected_components`` or
``OpsStore.log_partition_lineage``) fails here, not as an AttributeError
in a ``perfbench/run.py --trace 1`` run."""

import os
import sys

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench"
)


def test_perfbench_wrap_targets_resolve(spark):
    from financial_knowledge_graphs_spark.operators import materialize

    sys.path.insert(0, PERFBENCH)
    try:
        import spans
        import workloads
    finally:
        sys.path.remove(PERFBENCH)
    original = materialize.connected_components
    tracer = spans.Tracer(spark, True)
    try:
        workloads.install_wrappers(tracer)
        assert materialize.connected_components.__wrapped__ is original
    finally:
        tracer.unwrap_all()
    assert materialize.connected_components is original
