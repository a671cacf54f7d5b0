"""Round-12 optimization internals: scoped session confs, the
_small_loop_mode diet scoping, the MinHash signature width and the
compiled-class cache.

These pin the behaviors the round-12 optimizations rely on, so a later
edit cannot silently (a) leave a session's AQE or shuffle width
changed after a loop -- on return or on an exception -- or write a
conf outside the one scoped mechanism, (b) leak the loop diet's
shuffle width into the rest of a query, (c) narrow the MinHash
signature aggregate below the scan's width (a shuffle before it that
AQE coalesces to one task), (d) recompile generated classes on
every pass (a compiled-class cache smaller than a pass), or (e) release
query state outside the build-scope code in ``session``."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from graphdb_cia_factbook_spark.session import (clear_scratch, get_spark,
                                                scoped_conf)

AQE = "spark.sql.adaptive.enabled"
WIDTH = "spark.sql.shuffle.partitions"
SF = "/root/testdata/sf0.001"
ENGINE = Path(__file__).resolve().parents[1] / "graphdb_cia_factbook_spark"


@pytest.fixture(scope="module")
def spark():
    return get_spark("test-small-loop")


def _confs(spark) -> dict[str, str]:
    return {k: spark.conf.get(k) for k in (AQE, WIDTH)}


def test_scoped_conf_restores_prior_value_not_default(spark):
    """The scope puts back the value it found -- a session deliberately
    running with AQE off stays off (round-11 ADVICE items 1-2)."""
    spark.conf.set(AQE, "false")  # harness chose AQE off
    try:
        with scoped_conf(spark, {AQE: "true"}):
            assert spark.conf.get(AQE) == "true"
        assert spark.conf.get(AQE) == "false"  # NOT hardcoded "true"
    finally:
        spark.conf.set(AQE, "true")


def test_scoped_conf_nested_restores_outermost(spark):
    """Nested scopes over the same key unwind to the ORIGINAL value,
    not the intermediate one."""
    original = spark.conf.get(WIDTH)
    with scoped_conf(spark, {WIDTH: "7"}):
        with scoped_conf(spark, {WIDTH: "3"}):
            assert spark.conf.get(WIDTH) == "3"
        assert spark.conf.get(WIDTH) == "7"
    assert spark.conf.get(WIDTH) == original


def test_small_loop_mode_scoped_restore(spark):
    """The diet holds inside the block and AQE and the shuffle width
    come back when it exits (loop scoping); the small=False path
    passes frames through and changes no conf."""
    from graphdb_cia_factbook_spark.operators.graph import _small_loop_mode

    before = _confs(spark)
    stationary = spark.range(10).localCheckpoint()

    with _small_loop_mode(spark, True, stationary) as hint:
        assert hint is F.broadcast
        assert _confs(spark) == {
            AQE: "false", WIDTH: str(stationary.rdd.getNumPartitions())}
    assert _confs(spark) == before

    df = spark.range(3)
    with _small_loop_mode(spark, False, stationary) as passthrough:
        assert passthrough(df) is df
        assert _confs(spark) == before
    assert _confs(spark) == before
    clear_scratch(spark)


def test_registry_mst_build_leaves_session_confs(spark):
    """Building g_mst (Borůvka under the diet) hands the caller back
    the confs the registry's entry hygiene set."""
    from graphdb_cia_factbook_spark import registry
    from graphdb_cia_factbook_spark.registry import _prepare_session

    build = registry.queries()["g_mst"]
    _prepare_session(spark)
    expected = _confs(spark)
    df = build(spark, SF)
    assert _confs(spark) == expected
    assert df.count() > 0
    clear_scratch(spark)


def test_loop_exception_restores_confs(spark, monkeypatch):
    """An exception inside a scoped loop still restores the confs."""
    from graphdb_cia_factbook_spark.operators import graph as gmod

    def out_of_budget(fn_name, option, budget):
        raise RuntimeError(f"{fn_name}: budget {budget}")

    monkeypatch.setattr(gmod, "_warn_budget", out_of_budget)
    v = spark.createDataFrame([(i,) for i in range(4)], "id bigint")
    e = spark.createDataFrame([(0, 1), (1, 2), (2, 3)],
                              "src bigint, dst bigint")
    before = _confs(spark)
    assert before[AQE] == "true"  # the diet has something to restore
    with pytest.raises(RuntimeError, match="bfs_hops: budget 1"):
        gmod.bfs_hops(gmod.Graph(v, e), [0], max_hops=1)
    assert _confs(spark) == before
    clear_scratch(spark)


def test_boruvka_on_edge_free_graph_returns_empty_forest(spark):
    """An edge-free graph checkpoints to a 0-partition edge table; the
    diet's shuffle width must still be >= 1."""
    from graphdb_cia_factbook_spark.operators.graph import boruvka_mst

    v = spark.createDataFrame([(1,), (2,)], "id bigint")
    ue = spark.createDataFrame([(1, 2, 1)], "a bigint, b bigint, w int")
    ue = ue.limit(0)  # planned as an empty scan with no partitions
    assert boruvka_mst(v, ue).collect() == []
    clear_scratch(spark)


def _engine_callers(pattern: str) -> set[tuple[str, str]]:
    """(module, innermost function) of every engine line that matches
    ``pattern``."""
    found = set()
    for path in sorted(ENGINE.rglob("*.py")):
        src = path.read_text()
        funcs = [n for n in ast.walk(ast.parse(src))
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for lineno, line in enumerate(src.splitlines(), 1):
            if re.search(pattern, line):
                owner = min((f for f in funcs
                             if f.lineno <= lineno <= f.end_lineno),
                            key=lambda f: f.end_lineno - f.lineno,
                            default=None)
                found.add((path.stem, owner.name if owner else "<module>"))
    return found


def test_conf_writes_only_in_scoped_conf_and_entry_hygiene():
    """One mechanism for session confs: the engine writes a conf only
    in ``session.scoped_conf`` (restored on exit) and in
    ``registry._prepare_session`` (per-entry hygiene)."""
    assert _engine_callers(r"conf\.(un)?set\(") == {
        ("session", "scoped_conf"), ("registry", "_prepare_session")}


_BUDGET_WARNERS = {("graph", "_warn_budget"), ("graph", "_frontier_bfs"),
                   ("graph", "_fixpoint")}


def test_bfs_family_runs_through_one_driver():
    """One superstep loop for the BFS family: the hop-budget warning
    and the small-loop diet of ``bfs_hops``, the multi-root closures
    and ``bridges`` live only in ``graph._frontier_bfs`` (the budget
    warning is shared with the fixpoint driver)."""
    assert _engine_callers(r"_warn_budget\(") == _BUDGET_WARNERS
    family = {("graph", f) for f in ("bfs_hops", "_multi_root_bfs", "step",
                                     "bridges")}
    assert not _engine_callers(r"_small_loop_mode\(") & family


def test_fixpoint_loops_run_through_one_driver():
    """One iterate-until-nothing-changes loop: the ``__chg`` probe sum
    lives only in ``graph._fixpoint``, the budget warning only there
    and in ``_frontier_bfs``, and no loop in the graph module is an
    unbounded ``while True`` (connected components, SSSP, k-core,
    k-truss, condensation, Borůvka's pointer doubling and the SCC trim
    all run on the driver)."""
    assert _engine_callers(r"F\.sum\(\"__chg\"\)") == {("graph", "_fixpoint")}
    assert _engine_callers(r"_warn_budget\(") == _BUDGET_WARNERS
    assert not {c for c in _engine_callers(r"while\s+True")
                if c[0] == "graph"}


def test_fixpoint_round_is_one_job(spark):
    """A fixpoint round costs one Spark job: the aggregate that reads
    the round's row count and change flags also materializes its lazy
    checkpoint.  k-core with k=2 on a triangle with a two-edge tail
    peels the tail in two rounds and confirms the triangle in a third;
    its only other jobs are the eager checkpoint of the starting edge
    table and its count.  AQE is off for the check (see
    ``test_one_task_gate_is_one_job``)."""
    from graphdb_cia_factbook_spark.operators.graph import Graph, k_core

    v = spark.createDataFrame([(i,) for i in range(1, 6)], "id bigint")
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)],
                              "src bigint, dst bigint")
    sc = spark.sparkContext
    group = "test_fixpoint_round_is_one_job"
    try:
        with scoped_conf(spark, {AQE: "false"}):
            sc.setJobGroup(group, group)
            df = k_core(Graph(v, e), 2)
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2 + 3
        assert {r.id for r in df.collect() if r.in_kcore} == {1, 2, 3}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        clear_scratch(spark)


def test_only_the_scope_code_releases_state():
    """One lifetime mechanism: only the scope code in ``session`` reads
    the persistent-RDD set or unpersists; nothing clears the catalog
    cache; no engine file names the checkout's own path, and no test or
    tool puts a literal absolute path on ``sys.path`` (each derives
    its checkout from ``__file__``, so it imports its own engine)."""
    assert _engine_callers(r"getPersistentRDDs|\.unpersist\(") <= {
        ("session", "_persistent_rdds"), ("session", "_unpersist"),
        ("session", "_release")}
    assert not _engine_callers(r"clearCache\(")
    assert not _engine_callers(re.escape(ENGINE.parent.as_posix()))
    literal = re.compile(r"sys\.path\.insert\(\s*\d+\s*,\s*[rRbBuU]?['\"]/")
    pinned = [f"{path.name}:{n}"
              for sub in ("tests", "tools")
              for path in sorted((ENGINE.parent / sub).glob("*.py"))
              for n, line in enumerate(path.read_text().splitlines(), 1)
              if literal.search(line)]
    assert not pinned, pinned


def test_minhash_signature_reads_the_scan_width(spark, monkeypatch):
    """MinHash holds the exploded (id, shingle) rows with no shuffle:
    no REPARTITION_BY_NUM widen at 12 or 32 hashes, and the signature
    aggregate's input keeps the scan's partition count (a distinct's
    AQE-coalesced exchange narrowed it to one task)."""
    from graphdb_cia_factbook_spark.operators import dedup

    widths = []
    signatures = dedup.minhash_signatures

    def spy(sh, *args, **kwargs):
        widths.append(sh.rdd.getNumPartitions())
        return signatures(sh, *args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_signatures", spy)
    rows = [(i, f"alpha beta gamma delta epsilon zeta doc{i % 3}")
            for i in range(12)]
    docs = spark.sparkContext.parallelize(rows, 3).toDF(["doc_id", "text"])
    for num_hashes, bands in ((12, 4), (32, 8)):
        out = dedup.minhash_lsh_dedup(docs, num_hashes=num_hashes,
                                      bands=bands)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        clear_scratch(spark)
        assert "REPARTITION_BY_NUM" not in plan
    assert widths == [3, 3]


def test_second_pass_compiles_no_classes(spark):
    """Each generated class is compiled once per session: a second
    pass over the benchmark's scan_curation queries compiles nothing.
    One pass generates 160-odd distinct classes; with Spark's default
    cache of 100 compiled classes the LRU evicted every class before
    its next use, so each pass compiled them all again."""
    import json
    from pathlib import Path

    from graphdb_cia_factbook_spark import registry
    spec = json.loads((Path(__file__).resolve().parents[1] / "perfbench"
                       / "workloads.json").read_text())
    names = [q["query"]
             for q in spec["workloads"]["scan_curation"]["queries"]]
    qs = registry.queries()
    compiled = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())

    def one_pass() -> int:
        before = compiled.getCount()
        for name in names:
            qs[name](spark, SF).write.format("noop").mode("overwrite").save()
            clear_scratch(spark)
        return compiled.getCount() - before

    one_pass()
    assert one_pass() == 0
