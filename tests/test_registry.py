"""Registry contract tests: the driver records CORRECTNESS rows for
exactly the first 50 ``queries()`` entries (observed every round), so
the gate-priority ordering is load-bearing -- pin it."""

from graphdb_cia_factbook_spark import registry


def test_gate_priority_is_the_prefix():
    """The first len(_GATE_PRIORITY) registry entries must be exactly
    the priority list, in order -- an accidental import-order change
    must not silently push never-recorded entries past position 50."""
    names = list(registry.queries())
    prio = registry._GATE_PRIORITY
    assert names[:len(prio)] == prio


def test_first_50_all_have_oracles():
    """Every officially-recordable entry must get a full value-hash
    check, not a rows-only fallback."""
    names = list(registry.queries())[:50]
    oracles = registry.oracle_sql()
    missing = [n for n in names if n not in oracles]
    assert not missing, missing


def test_priority_names_all_registered():
    """A typo in _GATE_PRIORITY would silently shrink the recorded
    set (unknown names are skipped by the reorder)."""
    names = set(registry.queries())
    unknown = [n for n in registry._GATE_PRIORITY if n not in names]
    assert not unknown, unknown


def test_every_query_has_a_docstring():
    """A triple-quoted-literal .replace(...) expression statement is
    NOT a docstring (__doc__ is None and registry propagation copies
    nothing) -- ADVICE round 3.  Pin that every registered entry
    carries real documentation."""
    qs = registry.queries()
    bad = [n for n, f in qs.items() if not (f.__doc__ or "").strip()]
    assert not bad, bad


def test_no_top_level_array_or_map_outputs(registry_builds):
    """The driver's correctness checker canonicalizes results with
    pandas ``sort_values`` over every column and crashes on unhashable
    cells -- round 7's only scoreboard red (``llm_quantile_normalize``
    returning ``ArrayType``).  Pin that every registered entry emits
    scalar top-level columns only: explode to long form or
    ``array_join`` to a string before returning.

    Builders that EXECUTE on construction (the checkpointed dedup
    pipelines) are skipped here for suite-runtime
    reasons; their scalar output schemas are pinned by their own
    oracle rows (a DuckDB hash compare cannot even run on an
    array column without the canonicalizer the driver lacks)."""
    from pyspark.sql.types import ArrayType, MapType
    eager = {"llm_minhash_lsh", "llm_ngram_jaccard"}
    bad = []
    for name in registry.queries():
        if name in eager:
            continue
        for f in registry_builds(name)[1].fields:
            if isinstance(f.dataType, (ArrayType, MapType)):
                bad.append((name, f.name, f.dataType.simpleString()))
    assert not bad, bad


def test_bench_headline_names_are_registered():
    """Every bench.py HEADLINE query must exist in the registry --
    a rename or removal must fail fast here, not in the driver's
    bench run."""
    import importlib.util
    from pathlib import Path
    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parents[1] / "bench.py")
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    from graphdb_cia_factbook_spark import registry
    qs = registry.queries()
    missing = [n for n in bench.HEADLINE if n not in qs]
    assert not missing, missing
