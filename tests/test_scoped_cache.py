"""The single scoped-persist registry (session.persist_scoped): every
builder handed out by ``queries()`` releases the previous query's
caches, whatever module persisted them, and bench's timing loop leaves
nothing cached behind it."""

from __future__ import annotations

import pytest

from data_pipeline_4_online_retail_spark import session
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def qs():
    import __spark_entry__ as entry

    return entry.queries()


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_next_query_releases_previous_modules_caches(spark, qs):
    """A dedup query's caches used to survive every later non-dedup
    query (only the next dedup builder released them)."""
    qs["dedup_minhash_lsh"](spark, SF_DIR).collect()
    dedup_handles = list(session._SCOPED)
    assert dedup_handles
    assert all(h.storageLevel.useMemory for h in dedup_handles)
    try:
        qs["graph_triangle_count"](spark, SF_DIR)
        assert all(not h.is_cached for h in dedup_handles)
        assert all(not h.storageLevel.useMemory for h in dedup_handles)
    finally:
        session.release_scoped()


def test_bench_run_leaves_registry_empty(spark, qs):
    import bench

    errors: dict = {}
    runs = bench._run(qs, "dedup_minhash_lsh", spark, SF_DIR, 1, errors)
    assert errors == {} and len(runs) == 1
    assert not session._SCOPED


def test_pagerank_result_reads_cached_edges(spark, qs):
    """Iterations after the last localCheckpoint still read the edge
    list; unpersisting it before the builder returned left the final
    action recomputing the co-purchase self-join from the lineitem
    scan."""
    df = qs["graph_pagerank_copurchase"](spark, SF_DIR)
    try:
        assert "InMemoryTableScan" in _executed_plan(df)
    finally:
        session.release_scoped()
