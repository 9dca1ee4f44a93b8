from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pixels_spark.session import build_session

SF_SMOKE = "/root/testdata/sf0.001"
SF_T2 = "/root/testdata/sf0.01"

# --- slow tier (see pytest.ini) --------------------------------------------
# Randomized model/property fuzzes, centrally listed so the fast/slow split
# is auditable in one place. Durations from the r13 full run
# (--durations=250, 44:19 total): these entries alone are ~20 min.
# WHOLE FILES whose every test is a randomized fuzz:
_SLOW_FILES = {
    "test_random_asof.py",        # 157s  hypothesis fuzz vs DuckDB ASOF
    "test_random_joins.py",       # 34s   fuzzy-join brute-force fuzz
    "test_random_funnel.py",      # 22s   funnel tie fuzz vs oracle
    "test_random_spans.py",       # 19s   span-cut python-reference fuzz
    "test_random_temperature.py", # 12s   temperature-mix kept-set fuzz
}
# Individual randomized/property heavyweights in otherwise-fast files:
_SLOW_TESTS = {
    # 664s together: MVCC dict-model history fuzzes (the file's indexed
    # point-lookup fuzz stays in the fast tier)
    ("test_mvcc_model.py", "test_random_histories_match_model"),
    ("test_mvcc_model.py", "test_snapshot_diff_matches_dict_model"),
    ("test_mvcc_model.py", "test_full_surface_model_fuzz"),
    ("test_graph.py", "test_equals_id_ordered_on_random_graphs"),       # 61s
    ("test_graph.py", "test_pagerank_matches_matrix_oracle_on_random_directed_graphs"),  # 19s
    ("test_graph.py", "test_weighted_pagerank_matches_dense_reference"),  # 15s
    ("test_vector.py", "test_pq_index_probe_matches_inline"),            # 59s
    ("test_vector.py", "test_pq_recall_and_compression"),                # 53s
    ("test_vector.py", "test_ivfpq_probe_prunes_and_matches_subset_scoring"),  # 23s
    ("test_vector.py", "test_mmr_matches_independent_greedy_replay"),    # 14s
    ("test_ivm.py", "test_join_rollup_random_ops_both_sides"),           # 46s
    ("test_ivm.py", "test_ivm_random_operation_sequences"),              # 21s
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        fname = os.path.basename(str(item.fspath))
        # parametrized ids like name[seed] → base name
        base = item.name.split("[", 1)[0]
        if fname in _SLOW_FILES or (fname, base) in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="pixels_spark_tests",
        master="local[8]",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            "spark.ui.enabled": "false",
            "spark.driver.memory": "4g",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return os.environ.get("PIXELS_SPARK_TEST_SF_DIR", SF_SMOKE)


@pytest.fixture(autouse=True)
def _clear_cache_between_tests(request):
    """Drop cached DataFrames after every test: several operators persist
    small frames as part of their returned lazy plans (co-moment matrices,
    value-grain counts, edge sets) and can't unpersist them before the
    caller executes — across a 1000-test session on the 4 GB test driver
    those orphaned caches accumulate until the deliberately
    memory-constrained spill test OOMs the shared JVM (observed: heap
    exhaustion in test_spill after ~18k stages). Per-test clearCache keeps
    each test's own reuse intact while bounding cross-test accumulation."""
    yield
    spark_fixture = request.node.funcargs.get("spark")
    if spark_fixture is not None:
        try:
            spark_fixture.catalog.clearCache()
        except Exception:
            pass
