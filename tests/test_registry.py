"""The driver registry stays inside the driver's 50-query correctness window,
every registered query has its DuckDB oracle (and no oracle is orphaned),
and every script that looks queries up by name finds them registered — a
retired or renamed query fails here, not as a KeyError mid-benchmark."""

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _import_from(path, module):
    sys.path.insert(0, path)
    try:
        return __import__(module)
    finally:
        sys.path.remove(path)


def test_registry_fits_driver_window_and_pairs_with_oracles():
    entry = _import_from(REPO, "__spark_entry__")
    qs = entry.queries()
    assert len(qs) <= 50, f"{len(qs)} queries registered; the driver checks 50"
    assert set(qs) == set(entry.oracle_sql())


def test_callers_name_registered_queries():
    registered = set(_import_from(REPO, "__spark_entry__").queries())
    callers = {
        "perfbench/workloads.NEARDUP_QUERIES":
            _import_from(os.path.join(REPO, "perfbench"), "workloads").NEARDUP_QUERIES,
        "bench.OPERATOR_SUITE": _import_from(REPO, "bench").OPERATOR_SUITE,
        "tools/dump_plans.PICK":
            _import_from(os.path.join(REPO, "tools"), "dump_plans").PICK,
    }
    for caller, names in callers.items():
        assert set(names) <= registered, (caller, sorted(set(names) - registered))
