"""PageRank / ArticleRank validation against independent hand-rolled
power iteration (SURVEY.md §5 strategy (3))."""

import pytest
from pyspark.sql import functions as F

from graphdb_cia_factbook_spark.operators.graph import (
    Graph,
    articlerank,
    pagerank,
)


def ref_pagerank(nodes, edges, d=0.85, iters=20, weights=None):
    """Independent driver-side power iteration (dangling mass
    redistributed uniformly)."""
    n = len(nodes)
    out = {v: [] for v in nodes}
    for s, t in edges:
        w = weights[(s, t)] if weights else 1.0
        out[s].append((t, w))
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        dangling = 0.0
        for s in nodes:
            if out[s]:
                tot = sum(w for _, w in out[s])
                for t, w in out[s]:
                    contrib[t] += r[s] * w / tot
            else:
                dangling += r[s]
        r = {v: (1 - d) / n + d * (contrib[v] + dangling / n) for v in nodes}
    return r


def ref_articlerank(nodes, edges, d=0.85, iters=20):
    n = len(nodes)
    out = {v: [] for v in nodes}
    for s, t in edges:
        out[s].append(t)
    avg = len(edges) / n
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = {v: 0.0 for v in nodes}
        dangling = 0.0
        for s in nodes:
            if out[s]:
                for t in out[s]:
                    contrib[t] += r[s] / (len(out[s]) + avg)
            else:
                dangling += r[s]
        r = {v: (1 - d) / n + d * (contrib[v] + dangling / n) for v in nodes}
    return r


NODES = ["A", "B", "C", "D"]
EDGES = [("A", "B"), ("A", "C"), ("B", "C"), ("C", "A")]  # D dangling
AMOUNTS = {("A", "B"): 10.0, ("A", "C"): 30.0, ("B", "C"): 5.0,
           ("C", "A"): 1.0}


@pytest.fixture(scope="module")
def graph(spark):
    v = spark.createDataFrame([(x,) for x in NODES], "id string")
    e = spark.createDataFrame(
        [(s, t, AMOUNTS[(s, t)]) for s, t in EDGES],
        "src string, dst string, amount double")
    return Graph(vertices=v, edges=e)


def test_pagerank_unweighted(graph):
    got = {r["id"]: r["pagerank"] for r in pagerank(graph).collect()}
    want = ref_pagerank(NODES, EDGES)
    assert set(got) == set(want)
    for v in NODES:
        assert got[v] == pytest.approx(want[v], rel=1e-9), v
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)


def test_pagerank_weighted(graph):
    got = {r["id"]: r["pagerank"]
           for r in pagerank(graph, weighted=True).collect()}
    want = ref_pagerank(NODES, EDGES, weights=AMOUNTS)
    for v in NODES:
        assert got[v] == pytest.approx(want[v], rel=1e-9), v


def test_articlerank(graph):
    got = {r["id"]: r["articlerank"] for r in articlerank(graph).collect()}
    want = ref_articlerank(NODES, EDGES)
    for v in NODES:
        assert got[v] == pytest.approx(want[v], rel=1e-9), v


def test_degrees(graph):
    rows = {r["id"]: r for r in graph.degrees().collect()}
    assert rows["A"]["out_deg"] == 2 and rows["A"]["in_deg"] == 1
    assert rows["A"]["out_amount"] == 40.0 and rows["A"]["in_amount"] == 1.0
    assert rows["D"]["out_deg"] == 0 and rows["D"]["in_deg"] == 0


def test_project(graph):
    e = graph.edges.withColumn("type", F.lit("trades"))
    g2 = Graph(graph.vertices, e)
    assert g2.project("trades").edges.count() == 4
    assert g2.project("contains").edges.count() == 0


def test_connected_components_disconnected(spark):
    from graphdb_cia_factbook_spark.operators.graph import (
        connected_components,
    )
    v = spark.createDataFrame([(x,) for x in "ABCDE"], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("D", "C")], "src string, dst string")
    got = {r.id: r.component
           for r in connected_components(Graph(v, e)).collect()}
    assert got == {"A": "A", "B": "A", "C": "C", "D": "C", "E": "E"}


def test_triangles_known_graph(spark):
    from graphdb_cia_factbook_spark.operators.graph import triangle_count
    v = spark.createDataFrame([(x,) for x in "ABCD"], "id string")
    # triangle A-B-C (via mixed directions + a duplicate edge); D outside
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A"), ("B", "A"), ("C", "D")],
        "src string, dst string")
    got = {r.id: r.n_triangles for r in triangle_count(Graph(v, e)).collect()}
    assert got == {"A": 1, "B": 1, "C": 1, "D": 0}


def test_bfs_hops_chain_and_unreachable(spark):
    from graphdb_cia_factbook_spark.operators.graph import bfs_hops
    v = spark.createDataFrame([(x,) for x in "ABCDE"], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "B"), ("E", "A")],
        "src string, dst string")
    got = {r.id: r.dist for r in bfs_hops(Graph(v, e), ["A"]).collect()}
    # E points INTO A, so it is unreachable from A (directed)
    assert got == {"A": 0, "B": 1, "C": 2, "D": None, "E": None}
    und = {r.id: r.dist
           for r in bfs_hops(Graph(v, e), ["A"], directed=False).collect()}
    assert und == {"A": 0, "B": 1, "C": 2, "D": None, "E": 1}


def test_bfs_hop_budget_warning_precision(spark):
    """The hop-budget warning must fire ONLY when the closure is
    actually truncated (ADVICE r4: the bare for/else false-positived
    when BFS completed at exactly max_hops)."""
    import warnings

    from graphdb_cia_factbook_spark.operators.graph import bfs_hops
    v = spark.createDataFrame([(x,) for x in "ABCD"], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D")], "src string, dst string")
    # completes at exactly max_hops=3 (D discovered on the last
    # allowed hop, nothing beyond): no warning
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = {r.id: r.dist
               for r in bfs_hops(Graph(v, e), ["A"], max_hops=3)
               .collect()}
    assert got == {"A": 0, "B": 1, "C": 2, "D": 3}
    # genuinely truncated at max_hops=2: warn, and D stays NULL
    with pytest.warns(RuntimeWarning, match="hop budget"):
        got = {r.id: r.dist
               for r in bfs_hops(Graph(v, e), ["A"], max_hops=2)
               .collect()}
    assert got == {"A": 0, "B": 1, "C": 2, "D": None}


def test_multi_root_bfs_hop_budget_probe(spark):
    """The probe-round fix (operators/graph.py ADVICE r5) also covers
    the multi-root kernel under closeness/diameter: completing at
    EXACTLY max_hops must not warn; a genuine truncation must."""
    import warnings

    from graphdb_cia_factbook_spark.operators.graph import _multi_root_bfs
    v = spark.createDataFrame([(x,) for x in "ABCD"], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D")], "src string, dst string")
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        rows = _multi_root_bfs(Graph(v, e), max_hops=3).collect()
    dist = {(r.root, r.id): r.dist for r in rows}
    assert dist[("A", "D")] == 3        # discovered on the last hop
    with pytest.warns(RuntimeWarning, match="hop budget"):
        rows = _multi_root_bfs(Graph(v, e), max_hops=2).collect()
    assert ("A", "D") not in {(r.root, r.id) for r in rows}


def test_eigenvector_edgeless_graph_degenerate(spark):
    """Edgeless graph: the adjacency is the zero matrix, so every
    power-iteration step collapses y to zeros.  The max-rescale and
    final L2 guards must degrade every vertex to eigenvector=0.0 --
    never NULL/NaN (the mirrored DuckDB oracle in queries_graph has
    the same guards; this pins the Spark side independently)."""
    import math

    from graphdb_cia_factbook_spark.operators.graph import (
        eigenvector_centrality,
    )
    v = spark.createDataFrame([(x,) for x in "ABC"], "id string")
    e = spark.createDataFrame([], "src string, dst string")
    rows = eigenvector_centrality(Graph(v, e)).collect()
    assert len(rows) == 3
    for r in rows:
        assert r.eigenvector is not None
        assert not math.isnan(r.eigenvector)
        assert r.eigenvector == 0.0


def test_closeness_chain_and_landmarks(spark):
    from graphdb_cia_factbook_spark.operators.graph import (
        closeness_centrality,
    )
    v = spark.createDataFrame([(x,) for x in "ABCD"], "id string")
    # path A->B->C; D isolated
    e = spark.createDataFrame([("A", "B"), ("B", "C")],
                              "src string, dst string")
    rows = {r.id: r for r in
            closeness_centrality(Graph(v, e)).collect()}
    # A reaches B(1), C(2): r=2, sum=3, N-1=3 -> (2/3)*(2/3)
    assert abs(rows["A"].closeness - (2 / 3) * (2 / 3)) < 1e-12
    assert rows["A"].eccentricity == 2 and rows["A"].n_reached == 2
    # B reaches C only: (1/1)*(1/3)
    assert abs(rows["B"].closeness - 1 / 3) < 1e-12
    assert rows["B"].eccentricity == 1
    # C and D reach nothing -> closeness 0, NULL eccentricity
    assert rows["C"].closeness == 0.0 and rows["C"].eccentricity is None
    assert rows["D"].closeness == 0.0 and rows["D"].n_reached == 0
    # landmark restriction: only A's row carries stats
    lm = {r.id: r for r in
          closeness_centrality(Graph(v, e), sources=["A"]).collect()}
    assert lm["A"].n_reached == 2 and lm["B"].n_reached == 0


def test_sssp_weighted_relaxation(spark):
    from graphdb_cia_factbook_spark.operators.graph import sssp
    v = spark.createDataFrame([(x,) for x in "ABCDE"], "id string")
    # direct A->C costs 10; the A->B->C detour costs 3 and must win
    e = spark.createDataFrame(
        [("A", "C", 10), ("A", "B", 1), ("B", "C", 2), ("C", "D", 1)],
        "src string, dst string, cost int")
    got = {r.id: r.dist for r in sssp(Graph(v, e), ["A"]).collect()}
    assert got == {"A": 0, "B": 1, "C": 3, "D": 4, "E": None}


def test_sssp_rejects_fractional_weights(spark):
    """The long cast would silently truncate 1.5 -> 1; must raise."""
    from graphdb_cia_factbook_spark.operators.graph import sssp
    v = spark.createDataFrame([(x,) for x in "AB"], "id string")
    e = spark.createDataFrame([("A", "B", 1.5)],
                              "src string, dst string, cost double")
    with pytest.raises(AssertionError, match="non-integer"):
        sssp(Graph(v, e), ["A"])


def test_sssp_warns_when_unconverged(spark):
    """A chain longer than max_iter exits on the iteration cap --
    distances are then upper bounds and a RuntimeWarning must say so."""
    import warnings

    from graphdb_cia_factbook_spark.operators.graph import sssp
    v = spark.createDataFrame([(x,) for x in "ABCDE"], "id string")
    e = spark.createDataFrame(
        [("A", "B", 1), ("B", "C", 1), ("C", "D", 1), ("D", "E", 1)],
        "src string, dst string, cost int")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        sssp(Graph(v, e), ["A"], max_iter=2).collect()
    assert any("max_iter" in str(w.message) for w in caught)


def test_fixpoint_loops_warn_when_unconverged(spark, monkeypatch):
    """Every loop on the fixpoint driver says so when its iteration
    budget runs out first: k-core, k-truss, the condensation levels and
    the distributed connected components, on a 10-vertex chain with a
    ``max_iter`` below its depth.  The default budgets converge on the
    same chain without a word."""
    import warnings

    from graphdb_cia_factbook_spark.operators import graph as gmod
    from graphdb_cia_factbook_spark.session import clear_scratch

    monkeypatch.setattr(gmod, "_ONE_TASK_ROWS", 0)  # distributed CC
    v = spark.createDataFrame([(i,) for i in range(10)], "id bigint")
    e = spark.createDataFrame([(i, i + 1) for i in range(9)],
                              "src bigint, dst bigint")
    chain = Graph(v, e)
    loops = {"k_core": lambda **kw: gmod.k_core(chain, 2, **kw),
             "k_truss": lambda **kw: gmod.k_truss(chain, 3, **kw),
             "condensation": lambda **kw: gmod.condensation(chain, **kw),
             "connected_components":
                 lambda **kw: gmod.connected_components(chain, **kw)}
    for name, run in loops.items():
        with pytest.warns(RuntimeWarning, match=f"{name}: iteration "
                          "budget 1 exhausted before the fixpoint"):
            run(max_iter=1).collect()
    with warnings.catch_warnings():
        warnings.simplefilter("error", RuntimeWarning)
        got = {name: run().collect() for name, run in loops.items()}
    clear_scratch(spark)
    assert not any(r.in_kcore for r in got["k_core"])
    assert not any(r.in_truss for r in got["k_truss"])
    assert sorted(r.level for r in got["condensation"]) == list(range(10))
    assert {r.component for r in got["connected_components"]} == {0}


def test_scc_cycles_and_singletons(spark):
    """Two directed cycles bridged by a one-way edge plus an isolated
    vertex: each cycle is one SCC (labeled by its min member), the
    bridge does not merge them, the isolate is a singleton."""
    from graphdb_cia_factbook_spark.operators.graph import (
        strongly_connected_components,
    )
    v = spark.createDataFrame([(x,) for x in "ABCDEF"], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A"),      # cycle 1
         ("C", "D"),                               # one-way bridge
         ("D", "E"), ("E", "D")],                  # cycle 2
        "src string, dst string")
    rows = {r.id: r for r in
            strongly_connected_components(Graph(v, e)).collect()}
    assert {i: r.scc_id for i, r in rows.items()} == {
        "A": "A", "B": "A", "C": "A", "D": "D", "E": "D", "F": "F"}
    assert rows["A"].scc_size == 3 and rows["D"].scc_size == 2
    assert rows["F"].scc_size == 1


def test_ppr_rejects_missing_source(spark):
    """A seed absent from the vertex set would silently drop teleport
    mass; must raise."""
    from graphdb_cia_factbook_spark.operators.graph import (
        personalized_pagerank,
    )
    v = spark.createDataFrame([(x,) for x in "AB"], "id string")
    e = spark.createDataFrame([("A", "B")], "src string, dst string")
    with pytest.raises(AssertionError, match="absent"):
        personalized_pagerank(Graph(v, e), ["A", "Z"], max_iter=1)


def test_label_propagation_two_cliques(spark):
    from graphdb_cia_factbook_spark.operators.graph import label_propagation
    v = spark.createDataFrame([(x,) for x in "ABCXYZ"], "id string")
    # two triangles joined by one weak bridge C-X: labels must converge
    # to one community per triangle (min label of each), not merge
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A"),
         ("X", "Y"), ("Y", "Z"), ("Z", "X"), ("C", "X")],
        "src string, dst string")
    got = {r.id: r.community
           for r in label_propagation(Graph(v, e), max_iter=4).collect()}
    assert got["A"] == got["B"] == got["C"] == "A"
    # the second triangle converges to ONE community of its own ("C":
    # C's label hops the bridge in step 1 while X's own label leaves)
    assert got["X"] == got["Y"] == got["Z"]
    assert got["X"] != got["A"]


def test_hits_star_graph(spark):
    """On a star pointing at one center, the center is the sole
    authority and all leaves are equal hubs."""
    from graphdb_cia_factbook_spark.operators.graph import Graph, hits
    verts = spark.createDataFrame(
        [(v,) for v in ["c", "l1", "l2", "l3"]], ["id"])
    edges = spark.createDataFrame(
        [(l, "c") for l in ["l1", "l2", "l3"]], ["src", "dst"])
    rows = {r.id: r for r in hits(Graph(verts, edges), max_iter=5).collect()}
    assert rows["c"].auth == pytest.approx(1.0)
    for l in ["l1", "l2", "l3"]:
        assert rows[l].hub == pytest.approx(1 / 3)
        assert rows[l].auth == pytest.approx(0.0)
    assert rows["c"].hub == pytest.approx(0.0)


def test_kcore_peels_cascade(spark):
    """Square a-b-c-d-a plus a tail e-a: the 2-core keeps exactly the
    square (e peels first; the cascade must not drag a below the bar
    since a retains degree 2), and a path graph's 2-core is empty
    (peeling cascades end to end)."""
    from graphdb_cia_factbook_spark.operators.graph import Graph, k_core
    verts = spark.createDataFrame(
        [(v,) for v in "abcde"], ["id"])
    square_tail = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("e", "a")],
        ["src", "dst"])
    rows = {r.id: r.in_kcore
            for r in k_core(Graph(verts, square_tail), k=2).collect()}
    assert rows == {"a": True, "b": True, "c": True, "d": True, "e": False}

    path = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")], ["src", "dst"])
    rows = {r.id: r.in_kcore
            for r in k_core(Graph(verts, path), k=2).collect()}
    assert not any(rows.values())


def test_personalized_pagerank_concentrates_on_seeds(spark):
    """Seeded at 'a' on a -> b -> c (+ dangling c): every restart and
    all dangling mass return to 'a', so rank decays geometrically down
    the chain and any vertex unreachable from the seed scores 0."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph,
        personalized_pagerank,
    )
    verts = spark.createDataFrame([(v,) for v in "abcx"], ["id"])
    edges = spark.createDataFrame([("a", "b"), ("b", "c")], ["src", "dst"])
    rows = {r.id: r.ppr for r in personalized_pagerank(
        Graph(verts, edges), ["a"], max_iter=30).collect()}
    assert rows["a"] > rows["b"] > rows["c"] > 0
    assert rows["x"] == 0.0
    assert abs(sum(rows.values()) - 1.0) < 1e-9


def test_clustering_coefficient_triangle_plus_pendant(spark):
    """Triangle a-b-c with pendant d on a: b,c have coeff 1 (their
    single neighbor pair is closed), a has 1/3 (one closed pair of
    three), d has 0 (degree 1)."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph,
        clustering_coefficient,
    )
    verts = spark.createDataFrame([(v,) for v in "abcd"], ["id"])
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "d")], ["src", "dst"])
    rows = {r.id: r for r in
            clustering_coefficient(Graph(verts, edges)).collect()}
    assert rows["b"].clustering_coeff == pytest.approx(1.0)
    assert rows["c"].clustering_coeff == pytest.approx(1.0)
    assert rows["a"].clustering_coeff == pytest.approx(1 / 3)
    assert rows["d"].clustering_coeff == 0.0 and rows["d"].degree == 1


def test_condensation_levels_on_known_dag(spark):
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph,
        condensation,
    )
    v = spark.createDataFrame([(x,) for x in "ABCDE"], "id string")
    # cycle {A,B} -> C -> D; E isolated
    e = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("B", "C"), ("C", "D")],
        "src string, dst string")
    got = {r.comp: r for r in condensation(Graph(v, e)).collect()}
    assert got["A"].n_members == 2          # {A,B} contracted, min id
    assert got["A"].level == 0
    assert got["C"].level == 1 and got["C"].n_members == 1
    assert got["D"].level == 2
    assert got["E"].level == 0 and got["E"].n_members == 1


def test_random_walks_forced_path_and_dead_end(spark):
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph,
        random_walks,
    )
    v = spark.createDataFrame([(x,) for x in "ABCD"], "id string")
    # out-degree 1 everywhere reachable: any coin walks the chain;
    # C is a dead end, D isolated
    e = spark.createDataFrame([("A", "B"), ("B", "C")],
                              "src string, dst string")
    got = {r.walk_id: r for r in
           random_walks(Graph(v, e), length=4).collect()}
    assert got["A"].path == "A>B>C" and got["A"].n_steps == 2
    assert got["A"].end_id == "C"
    assert got["B"].path == "B>C" and got["C"].path == "C"
    assert got["D"].path == "D" and got["D"].n_steps == 0


def test_link_prediction_scores(spark):
    """Path graph 1-2-3-4 plus edge 1-3: known common-neighbor /
    Jaccard / Adamic-Adar values, and the hub cap must prune
    hub-mediated candidates without touching degrees."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph,
        link_prediction,
    )
    import math
    verts = spark.createDataFrame([(str(i),) for i in range(1, 5)], "id string")
    edges = spark.createDataFrame(
        [("1", "2"), ("2", "3"), ("3", "4"), ("1", "3")],
        "src string, dst string")
    got = {(r.a, r.b): r for r in link_prediction(Graph(verts, edges)).collect()}
    # non-adjacent pairs: (1,4) via middle 3; (2,4) via middle 3
    assert set(got) == {("1", "4"), ("2", "4")}
    r14 = got[("1", "4")]
    assert r14.common_neighbors == 1
    # deg(1)=2, deg(4)=1 -> jaccard = 1/(2+1-1)
    assert abs(r14.jaccard - 0.5) < 1e-12
    # middle is 3 with deg 3 -> adamic_adar = 1/ln(3)
    assert abs(r14.adamic_adar - 1.0 / math.log(3)) < 1e-6
    # cap below vertex 3's degree: the only remaining wedges run
    # through vertices 1/2, whose endpoint pairs are already edges --
    # so no predicted links survive
    capped = link_prediction(Graph(verts, edges), max_degree=2).collect()
    assert capped == []


def test_betweenness_path_graph(spark):
    """Directed path A->B->C->D: exact betweenness is the number of
    (s,t) pairs a vertex sits strictly inside: B on A->C, A->D (2);
    C on A->D, B->D (2); endpoints 0."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, betweenness_centrality)
    v = spark.createDataFrame([("A",), ("B",), ("C",), ("D",)], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D")], "src string, dst string")
    got = {r["id"]: r["betweenness"]
           for r in betweenness_centrality(Graph(v, e)).collect()}
    assert got == {"A": 0.0, "B": 2.0, "C": 2.0, "D": 0.0}


def test_betweenness_splits_parallel_shortest_paths(spark):
    """Diamond A->{B,C}->D: two shortest A->D paths, so B and C each
    carry sigma ratio 1/2."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, betweenness_centrality)
    v = spark.createDataFrame([("A",), ("B",), ("C",), ("D",)], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("A", "C"), ("B", "D"), ("C", "D")],
        "src string, dst string")
    got = {r["id"]: r["betweenness"]
           for r in betweenness_centrality(Graph(v, e)).collect()}
    assert got == {"A": 0.0, "B": 0.5, "C": 0.5, "D": 0.0}


def test_wl_refinement_distinguishes_roles(spark):
    """Directed 4-cycle + one chord: cycle-only vertices stay
    symmetric; the chord endpoints get distinct colors.  Also checks
    class_size bookkeeping."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, wl_refinement)
    v = spark.createDataFrame([(x,) for x in "ABCD"], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D"), ("D", "A"), ("A", "C")],
        "src string, dst string")
    rows = wl_refinement(Graph(v, e), iters=3).collect()
    colors = {r["id"]: r["wl_color"] for r in rows}
    sizes = {r["id"]: r["class_size"] for r in rows}
    # A (outdeg 2) and C (indeg 2) are structurally unique
    assert colors["A"] != colors["C"]
    assert len({colors["A"], colors["B"], colors["C"], colors["D"]}) >= 3
    from collections import Counter
    want_sizes = Counter(colors.values())
    for vid, c in colors.items():
        assert sizes[vid] == want_sizes[c]


def test_wl_refinement_symmetric_graph_one_class(spark):
    """Directed 3-cycle: perfectly symmetric, every round must keep
    all vertices in ONE color class."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, wl_refinement)
    v = spark.createDataFrame([(x,) for x in "XYZ"], "id string")
    e = spark.createDataFrame(
        [("X", "Y"), ("Y", "Z"), ("Z", "X")], "src string, dst string")
    rows = wl_refinement(Graph(v, e), iters=3).collect()
    assert len({r["wl_color"] for r in rows}) == 1
    assert all(r["class_size"] == 3 for r in rows)


def test_node2vec_bias_forces_return_or_escape(spark):
    """A<->B with B->C: from B (prev=A) the candidates are A (return)
    and C (far).  w_far=0 forces the return; w_return=0 forces the
    escape -- pinning the weighted-interval draw exactly."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, node2vec_walks)
    v = spark.createDataFrame([("A",), ("B",), ("C",)], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "A"), ("B", "C")], "src string, dst string")
    g = Graph(v, e)
    ret = {r["walk_id"]: r["path"]
           for r in node2vec_walks(g, length=2, w_return=1, w_common=0,
                                   w_far=0).collect()}
    assert ret["A"] == "A>B>A"
    esc = {r["walk_id"]: r["path"]
           for r in node2vec_walks(g, length=2, w_return=0, w_common=0,
                                   w_far=1).collect()}
    assert esc["A"] == "A>B>C"


def test_node2vec_zero_total_walk_stops_in_place(spark):
    """A<->B only: from B every candidate is a return; with w_return=0
    the total weight is 0 and the walk must stop (not vanish)."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, node2vec_walks)
    v = spark.createDataFrame([("A",), ("B",)], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "A")], "src string, dst string")
    rows = {r["walk_id"]: r for r in node2vec_walks(
        Graph(v, e), length=3, w_return=0, w_common=0,
        w_far=1).collect()}
    assert set(rows) == {"A", "B"}
    assert rows["A"]["path"] == "A>B" and rows["A"]["n_steps"] == 1


def test_boruvka_mst_known_graph(spark):
    """Cycle + chord graph: MST excludes exactly the heaviest cycle
    edges; a disconnected extra pair yields a forest."""
    from graphdb_cia_factbook_spark.operators.graph import boruvka_mst
    v = spark.createDataFrame([(x,) for x in "ABCDEF"], "id string")
    e = spark.createDataFrame(
        [("A", "B", 1), ("B", "C", 2), ("C", "D", 3), ("D", "E", 4),
         ("A", "C", 5), ("B", "D", 6), ("E", "F", 7), ("A", "E", 8)],
        "a string, b string, w long")
    got = sorted((r.a, r.b, r.w) for r in boruvka_mst(v, e).collect())
    assert got == [("A", "B", 1), ("B", "C", 2), ("C", "D", 3),
                   ("D", "E", 4), ("E", "F", 7)]


def test_boruvka_mst_forest_on_disconnected(spark):
    from graphdb_cia_factbook_spark.operators.graph import boruvka_mst
    v = spark.createDataFrame([(x,) for x in "ABCD"], "id string")
    e = spark.createDataFrame(
        [("A", "B", 2), ("C", "D", 1)], "a string, b string, w long")
    got = sorted((r.a, r.b, r.w) for r in boruvka_mst(v, e).collect())
    assert got == [("A", "B", 2), ("C", "D", 1)]


def test_boruvka_mst_chain_merges(spark):
    """Path graph with monotone weights: every round hooks components
    into one deep chain (the adversarial case for the contraction --
    the hooking tree's depth grows, so pointer doubling must close it
    fully before relabeling).  The MST of a path is the path itself;
    a wrong/partial contraction would re-pick internal edges or stop
    with the forest split."""
    from graphdb_cia_factbook_spark.operators.graph import boruvka_mst
    n = 33
    ids = [f"v{i:02d}" for i in range(n)]
    v = spark.createDataFrame([(x,) for x in ids], "id string")
    e = spark.createDataFrame(
        [(ids[i], ids[i + 1], i + 1) for i in range(n - 1)],
        "a string, b string, w long")
    got = sorted((r.a, r.b, r.w) for r in boruvka_mst(v, e).collect())
    assert got == sorted((ids[i], ids[i + 1], i + 1)
                         for i in range(n - 1))


def test_mis_independent_and_maximal(spark):
    """Path graph: the result must be an independent set and maximal
    (every excluded vertex has an MIS neighbor)."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, maximal_independent_set)
    v = spark.createDataFrame([(x,) for x in "ABCDEF"], "id string")
    edges = [("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"), ("E", "F")]
    e = spark.createDataFrame(edges, "src string, dst string")
    rows = maximal_independent_set(Graph(v, e)).collect()
    mis = {r["id"] for r in rows if r["in_mis"]}
    assert not any(a in mis and b in mis for a, b in edges)
    for r in rows:
        if not r["in_mis"]:
            x = r["id"]
            assert any((a == x and b in mis) or (b == x and a in mis)
                       for a, b in edges)


def test_ktruss_k4_keeps_clique_drops_pendant_triangle(spark):
    """K4 + pendant triangle: K4 edges (2 triangles each) survive the
    4-truss; pendant-triangle edges (1 triangle) peel away -- and the
    D-E/D-F/E-F removal must CASCADE (after E-F peels, nothing
    rescues the others)."""
    from graphdb_cia_factbook_spark.operators.graph import Graph, k_truss
    v = spark.createDataFrame([(x,) for x in "ABCDEF"], "id string")
    edges = [("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"),
             ("C", "D"), ("D", "E"), ("D", "F"), ("E", "F")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["a"], r["b"]): r["in_truss"]
           for r in k_truss(Graph(v, e), k=4).collect()}
    in_t = {p for p, t in got.items() if t}
    assert in_t == {("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"),
                    ("B", "D"), ("C", "D")}
    assert len(got) == 9


def test_simrank_identical_in_neighbors(spark):
    """X->A, X->B: A and B share their single in-neighbor, so
    s(A,B) = C * s(X,X) / (1*1) = C after one iteration (stable
    thereafter)."""
    from graphdb_cia_factbook_spark.operators.graph import Graph, simrank
    v = spark.createDataFrame([("X",), ("A",), ("B",)], "id string")
    e = spark.createDataFrame(
        [("X", "A"), ("X", "B")], "src string, dst string")
    got = {(r["a"], r["b"]): r["simrank"]
           for r in simrank(Graph(v, e), c=0.8, max_iter=3).collect()}
    assert got[("A", "B")] == 0.8 and got[("B", "A")] == 0.8


def test_edge_betweenness_path_graph(spark):
    """Directed path A->B->C->D: edge (B,C) lies on s->t pairs
    {A,B}x{C,D} = 4 shortest paths; end edges carry 3 each."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, edge_betweenness)
    v = spark.createDataFrame([(x,) for x in "ABCD"], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "D")], "src string, dst string")
    got = {(r["src"], r["dst"]): r["edge_betweenness"]
           for r in edge_betweenness(Graph(v, e)).collect()}
    assert got == {("A", "B"): 3.0, ("B", "C"): 4.0, ("C", "D"): 3.0}


def test_bridges_triangle_plus_pendant(spark):
    from graphdb_cia_factbook_spark.operators.graph import Graph, bridges
    v = spark.createDataFrame([(x,) for x in "ABCDE"], "id string")
    e = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A"), ("C", "D"), ("D", "E")],
        "src string, dst string")
    got = {(r["a"], r["b"]): r["is_bridge"]
           for r in bridges(Graph(v, e)).collect()}
    assert got == {("A", "B"): False, ("B", "C"): False,
                   ("A", "C"): False, ("C", "D"): True, ("D", "E"): True}


def test_greedy_coloring_proper_on_cycle_with_chord(spark):
    """5-cycle + chord (odd cycle, chi = 3): the coloring must be
    PROPER (no edge endpoints share a color) and use few colors."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, greedy_coloring)
    v = spark.createDataFrame([(x,) for x in "ABCDE"], "id string")
    edges = [("A", "B"), ("B", "C"), ("C", "D"), ("D", "E"), ("E", "A"),
             ("A", "C")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {r["id"]: r["color"]
           for r in greedy_coloring(Graph(v, e)).collect()}
    assert set(got) == set("ABCDE")
    assert all(got[a] != got[b] for a, b in edges)
    assert len(set(got.values())) <= 4      # greedy bound, chi=3


def test_voterank_spreads_selections(spark):
    """Two separate stars: after electing one hub, its drained
    neighborhood must not dominate round 2 -- the second pick is the
    OTHER star's hub."""
    from graphdb_cia_factbook_spark.operators.graph import (
        Graph, voterank)
    v = spark.createDataFrame(
        [(x,) for x in ["H1", "H2", "a", "b", "c", "d", "e", "f"]],
        "id string")
    e = spark.createDataFrame(
        [("H1", "a"), ("H1", "b"), ("H1", "c"), ("H1", "d"),
         ("H2", "e"), ("H2", "f")], "src string, dst string")
    rows = sorted(voterank(Graph(v, e), k=2).collect(),
                  key=lambda r: r["vote_round"])
    assert rows[0]["id"] == "H1"        # degree-4 hub first
    assert rows[1]["id"] == "H2"        # then the other hub


def test_temporal_reachability_certificates(spark):
    """Every reached non-seed user's arrival must be certified by a
    contact (u -> v at t = arrival) whose sender was reached at or
    before t; the seed's arrival is its first activity bucket, and no
    arrival precedes the seed's."""
    from graphdb_cia_factbook_spark.registry import queries
    from graphdb_cia_factbook_spark.sources import read_table
    SF = "/root/testdata/sf0.001"
    rows = {r.user_id: r for r in
            queries()["g_temporal_reachability"](spark, SF).collect()}
    ev = read_table(spark, SF, "events").select(
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 300000000")
        .alias("t"), "user_id").distinct().collect()
    by_bucket = {}
    for r in ev:
        by_bucket.setdefault(r.t, set()).add(r.user_id)
    seed = min(rows)
    seed_arr = min(t for t, us in by_bucket.items() if seed in us)
    assert rows[seed].reached and rows[seed].arrival_bucket == seed_arr
    arr = {u: r.arrival_bucket for u, r in rows.items() if r.reached}
    for u, a in arr.items():
        if u == seed:
            continue
        assert a >= seed_arr
        senders = by_bucket.get(a, set()) - {u}
        assert any(s in arr and arr[s] <= a for s in senders), (u, a)


def test_one_task_kernels_match_distributed_loops(spark, monkeypatch):
    """The one-task kernels (the small-graph path of _rank_loop and
    connected_components) reproduce the distributed supersteps: ranks
    to 1e-12 relative, components exactly, ids keep their long type.
    The graph has long ids, dangling vertices (8, 9), an isolated
    vertex (10), a chain longer than CC's max_iter=3 and an edge-free
    twin.  Gate observability: the kernel plan holds exactly one
    MapInArrow, the forced-distributed plan none."""
    from pyspark.sql.types import LongType

    from graphdb_cia_factbook_spark.operators import graph as gmod
    from graphdb_cia_factbook_spark.plans import explain_str
    from graphdb_cia_factbook_spark.session import clear_scratch

    v = spark.createDataFrame([(i,) for i in range(1, 11)], "id bigint")
    e = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0), (3, 1, 2.0), (3, 4, 5.0), (4, 5, 1.0),
         (5, 6, 1.0), (6, 7, 2.0), (7, 8, 1.0), (2, 9, 4.0)],
        "src bigint, dst bigint, amount double")
    g = Graph(v, e)
    g0 = Graph(v, e.limit(0))
    cases = {
        "pagerank": lambda g: gmod.pagerank(g, max_iter=7),
        "pagerank_w": lambda g: gmod.pagerank(g, max_iter=7, weighted=True),
        "articlerank": lambda g: gmod.articlerank(g, max_iter=7),
        "ppr": lambda g: gmod.personalized_pagerank(g, [9, 1], max_iter=7),
        "cc3": lambda g: gmod.connected_components(g, max_iter=3),
        "cc": lambda g: gmod.connected_components(g),
    }

    def run():
        out = {}
        for name, fn in cases.items():
            for tag, graph in (("", g), ("0", g0)):
                df = fn(graph)
                assert isinstance(df.schema["id"].dataType, LongType), name
                out[name + tag] = (dict(df.collect()),
                                   explain_str(df, "simple")
                                   .count("MapInArrow"))
        return out

    kernel = run()
    monkeypatch.setattr(gmod, "_ONE_TASK_ROWS", 0)
    distributed = run()
    clear_scratch(spark)

    for name, (got, n_arrow) in kernel.items():
        want, n_dist = distributed[name]
        assert (n_arrow, n_dist) == (1, 0), name
        assert set(got) == set(range(1, 11)), name
        if name.startswith("cc"):
            assert got == want, name
            assert all(isinstance(c, int) for c in got.values()), name
        else:
            for k in want:
                assert got[k] == pytest.approx(want[k], rel=1e-12,
                                               abs=0), (name, k)
    # the short chain really is unconverged, and the full run is not
    assert kernel["cc3"][0][8] == 5 and kernel["cc"][0][8] == 1
    assert kernel["cc0"][0] == {i: i for i in range(1, 11)}


def test_one_task_gate_is_one_job(spark):
    """The one-task gate costs one Spark job: building pagerank or
    connected components runs only the observed checkpoint of the
    tagged loop input (no separate vertex or edge count).  AQE is off
    for the check because AQE runs every shuffle stage of the input
    plan as its own job; without it the checkpoint is exactly one."""
    from graphdb_cia_factbook_spark.operators import graph as gmod
    from graphdb_cia_factbook_spark.session import clear_scratch

    v = spark.createDataFrame([(i,) for i in range(1, 11)], "id bigint")
    e = spark.createDataFrame(
        [(1, 2, 3.0), (2, 3, 1.0), (3, 1, 2.0), (3, 4, 5.0), (7, 8, 1.0)],
        "src bigint, dst bigint, amount double")
    g = Graph(v, e)
    sc = spark.sparkContext
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name, build in (("pagerank", gmod.pagerank),
                            ("cc", gmod.connected_components)):
            group = f"test_one_task_gate_is_one_job_{name}"
            sc.setJobGroup(group, group)
            df = build(g)
            sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1, name
            assert df.count() == 10, name
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        clear_scratch(spark)
