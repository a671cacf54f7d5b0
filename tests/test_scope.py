"""A query owns what its build made (``session.scoped_build``).

Every registry build runs in a scope that records the RDDs its
``localCheckpoint`` calls made persistent, plus the broadcasts and spill
dirs its operators registered.  Building one query must never break
another query's live result or a caller's own ``cache()``.  A build that
raises, and a result nobody references any more, give back what they
made.
"""

from __future__ import annotations

import pytest

from graphdb_cia_factbook_spark import registry, session
from graphdb_cia_factbook_spark.flagship import flagship
from graphdb_cia_factbook_spark.session import clear_scratch

SF = "/root/testdata/sf0.001"


def _persistent(spark) -> set[int]:
    jrdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jrdds.keySet()}


def _build(spark, name: str):
    return registry.queries()[name](spark, SF)


def test_building_a_query_keeps_a_live_result_readable(spark):
    """Build g1_pagerank, build llm_exact_dedup, then read the first:
    its checkpoint blocks must still be there."""
    clear_scratch(spark)
    ranks = _build(spark, "g1_pagerank")
    dedup = _build(spark, "llm_exact_dedup")
    assert ranks.count() == 25
    assert dedup.count() > 0
    clear_scratch(spark)


def test_caller_cache_survives_builds_and_clear_scratch(spark):
    """A caller's ``cache()`` is the caller's: neither a registry build
    nor ``clear_scratch`` unpersists it or clears the catalog cache."""
    clear_scratch(spark)
    before = _persistent(spark)
    frame = spark.range(100).cache()
    assert frame.count() == 100
    cached = _persistent(spark) - before
    assert len(cached) == 1
    try:
        _build(spark, "q1_pricing_summary").collect()
        assert cached <= _persistent(spark)
        clear_scratch(spark)
        assert cached <= _persistent(spark)
        assert frame.storageLevel.useMemory
    finally:
        frame.unpersist(True)


def test_failed_build_leaves_the_persistent_rdds_as_it_found_them(
        spark, monkeypatch):
    """g1_pagerank checkpoints its loop input, then the loop raises: the
    build's checkpoint is released before the error reaches the
    caller."""
    from graphdb_cia_factbook_spark.operators import graph as gmod

    clear_scratch(spark)
    before = _persistent(spark)
    seen = []

    def broken_loop(*args, **kwargs):
        seen.append(_persistent(spark) - before)
        raise RuntimeError("loop failed")

    monkeypatch.setattr(gmod, "_one_task_loop", broken_loop)
    with pytest.raises(RuntimeError, match="loop failed"):
        _build(spark, "g1_pagerank")
    assert seen and seen[0]  # the loop input was checkpointed
    assert _persistent(spark) == before


def test_dropped_result_is_released_by_the_next_build(spark):
    """``del result`` and the next registry build releases exactly that
    result's RDDs; a result still referenced keeps its own."""
    clear_scratch(spark)
    before = _persistent(spark)
    ranks = _build(spark, "g1_pagerank")
    of_ranks = _persistent(spark) - before
    components = _build(spark, "g_connected_components")
    held = _persistent(spark)
    of_components = held - before - of_ranks
    assert of_ranks and of_components
    del ranks
    summary = _build(spark, "q1_pricing_summary")
    assert _persistent(spark) == held - of_ranks
    assert components.count() > 0
    assert summary.count() > 0
    clear_scratch(spark)


def test_flagship_builds_in_a_scope(spark):
    """The flagship's held trade graph belongs to its result: a registry
    build keeps it while the result lives and releases it after."""
    clear_scratch(spark)
    before = _persistent(spark)
    top = flagship(spark, SF)
    made = _persistent(spark) - before
    assert made
    _build(spark, "q1_pricing_summary")
    assert made <= _persistent(spark)
    assert top.count() == 25
    del top
    _build(spark, "q1_pricing_summary")
    assert not made & _persistent(spark)
    clear_scratch(spark)


def test_scope_of_another_context_unpersists_nothing(spark):
    """RDD ids restart in a new SparkContext, so a scope recorded under
    another application is dropped without unpersisting its ids."""
    clear_scratch(spark)
    before = _persistent(spark)
    live = spark.range(5).localCheckpoint()
    ids = _persistent(spark) - before
    stale = session._Scope(app="local-another-app", rdds=frozenset(ids))
    session._SCOPES.append(stale)
    session.release_unreferenced(spark)
    assert stale not in session._SCOPES
    assert ids <= _persistent(spark)
    assert live.count() == 5
    clear_scratch(spark)
    assert not ids & _persistent(spark)
