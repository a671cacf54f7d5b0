"""Graph layer (SURVEY.md §2.9, reference G1-G4 + S4-S7).

The reference loads a labeled property graph into Neo4j (country /
region / good nodes; trades / contains / exports / imports edges,
preprocess_upload_neo4j.py:217-395) and runs GDS PageRank + ArticleRank
(:400-447).  Spark-first equivalent: the GraphFrames representation --
a ``vertices(id, ...)`` DataFrame and an ``edges(src, dst, ...)``
DataFrame -- plus iterative DataFrame algorithms (one join + one
aggregation per superstep, i.e. Pregel-on-DataFrames).

Scale design (the part GDS does in closed-source memory):

- A loop whose state is provably small runs in ONE Spark task.  The
  rank family (:func:`_rank_loop`) and :func:`connected_components`
  materialize their tagged vertex/edge/teleport rows in one eager
  checkpoint whose ``Observation`` counts the vertices and edges in
  the same job (:func:`_loop_input`, the gate's only job).  When both
  fit one partition (``_ONE_TASK_ROWS`` rows, the bound at which
  :func:`_sized_partitions` already keeps a table in one partition)
  the checkpoint is coalesced into one partition and
  :func:`_one_task_loop` runs every superstep in a numpy kernel behind
  one ``mapInArrow`` -- one job instead of one (or more) per
  superstep.  This is the trade graph at every scale (25 vertices) and
  the verified near-dup pair graph.  Larger inputs keep the
  distributed loop below, reading their tables from that checkpoint.
- A distributed loop over small per-step state runs inside
  ``with _small_loop_mode(...)`` (the rank loop: ``scoped_conf``):
  AQE off, a narrow shuffle width and explicit broadcasts for the loop
  only.  The caller's session confs come back when the block exits,
  also when the loop raises.
- The BFS family (:func:`bfs_hops`, the multi-root closures under
  closeness, diameter and betweenness, :func:`bridges`) runs through
  one frontier driver, :func:`_frontier_bfs`: the caller supplies the
  hop-0 frontier, its BFS keys, a message step and its gate bound; the
  driver owns the anti-join against the visited pairs, the per-level
  checkpoint, the small-loop diet and the hop-budget probe.
- The fixpoint loops (connected components, SSSP, k-core, k-truss,
  condensation, Borůvka's pointer doubling, the SCC trim) run through
  :func:`_fixpoint`: the caller's step flags changed rows; the driver
  owns the checkpoint, the one-job probe and the budget warning.
- Per-iteration lineage grows unboundedly; we ``localCheckpoint`` every
  ``checkpoint_every`` supersteps to truncate it, and those are the
  ONLY driver actions in the loop -- the dangling-mass total is folded
  into the superstep plan as a broadcast 1-row aggregate instead of a
  per-iteration ``collect``.
- The contribution join shuffles nothing big: edges are normalized and
  checkpointed ONCE (stationary for all supersteps); each superstep
  broadcast-hash-joins the vertex-sized rank vector into the stationary
  edge partitions, then reduces with one vertex-sized shuffle.
- Hub skew (China/US analogs) lands on the vertex-sized aggregation,
  handled by AQE skew split; the 100-TB-edge case keeps the edge table
  stationary on disk-backed partitions.
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from ..session import local_cpus, scoped_conf
from ..sources import assert_unique_key, read_table
from .relational import dsum


_BUDGETS = {"max_hops": ("hop budget {n} exhausted with a non-empty "
                          "frontier; vertices beyond {n} hops are missing "
                          "from the result", "frontier exhaustion"),
            "max_iter": ("iteration budget {n} exhausted before the "
                         "fixpoint; the result is the state after {n} "
                         "rounds, not the fixpoint", "the fixpoint")}


def _warn_budget(fn_name: str, option: str, budget: int) -> None:
    """A superstep driver (:func:`_frontier_bfs`, :func:`_fixpoint`)
    ran out of its ``option`` budget, a runaway backstop: the result is
    truncated and consumers would treat it as complete (ADVICE round
    3), so warn at the line that called the graph operator."""
    lost, stop = _BUDGETS[option]
    warnings.warn(
        f"{fn_name}: {lost.format(n=budget)}. Raise {option} (the loop "
        f"stops by itself at {stop}).", RuntimeWarning, stacklevel=4)


@dataclass
class Graph:
    """Property graph as two DataFrames (vertices must have unique
    ``id`` -- S6 node-key constraint, asserted at build time)."""
    vertices: DataFrame
    edges: DataFrame  # src, dst, + properties

    def project(self, edge_type: str | None = None) -> "Graph":
        """S7: gds.graph.project equivalent -- restrict to one edge
        type (preprocess_upload_neo4j.py:401-409)."""
        e = self.edges
        if edge_type is not None and "type" in e.columns:
            e = e.where(F.col("type") == edge_type)
        return Graph(self.vertices, e)

    def hold(self) -> "Graph":
        """Materialize the edge table once (eager localCheckpoint)
        before an operator that references it several times.

        The trade edge table is nations-squared-bounded BY
        CONSTRUCTION (the build aggregates the fact table down to one
        row per (src, dst)), so this is a tiny stationary table at any
        corpus scale -- but a LAZY plan re-runs the full
        fact-join-aggregate chain once per reference (measured: the
        triangle wedge join planned the lineitem build 3x, 19 parquet
        scans in one query; g_triangles 1.98s -> 1.35s held).  This is
        the Spark analog of the reference's one-time GDS graph
        projection.  Same lifecycle note as dedup._hold: a cluster run
        would persist/stage instead."""
        return Graph(self.vertices, self.edges.localCheckpoint())

    def degrees(self) -> DataFrame:
        """A5/G-degrees: in/out degree + weighted totals per vertex.
        Two vertex-sized partial aggs joined back -- all map-side
        combined, shuffles are vertex-sized."""
        has_amount = "amount" in self.edges.columns
        amount = F.col("amount") if has_amount else F.lit(0.0)
        out = self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("out_deg"),
            dsum(amount).alias("out_amount"))
        inn = self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count(F.lit(1)).alias("in_deg"),
            dsum(amount).alias("in_amount"))
        return (self.vertices.select("id")
                .join(out, "id", "left").join(inn, "id", "left")
                .na.fill({"out_deg": 0, "in_deg": 0,
                          "out_amount": 0.0, "in_amount": 0.0}))


def build_trade_graph(spark: SparkSession, sf_dir: str) -> Graph:
    """Build the testdata analog of the reference's country trade graph
    (trade_partners.csv): supplier-nation -> customer-nation edges with
    the summed lineitem revenue as the ``amount`` property.

    lineitem joins orders (fact-fact, shuffle on orderkey) then two
    broadcast dim joins map both sides to nations; the final groupBy is
    vertex-squared-sized (25x25 here; countries-squared at reference
    scale) so it collapses 100 TB of fact rows into a tiny edge table
    via map-side partial aggregation.
    """
    nation = read_table(spark, sf_dir, "nation")
    customer = read_table(spark, sf_dir, "customer")
    supplier = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")

    cust_nation = (customer.join(F.broadcast(nation),
                                 customer.c_nationkey == nation.n_nationkey)
                   .select("c_custkey", F.col("n_name").alias("cust_nation")))
    supp_nation = (supplier.join(F.broadcast(nation),
                                 supplier.s_nationkey == nation.n_nationkey)
                   .select("s_suppkey", F.col("n_name").alias("supp_nation")))

    edges = (lineitem
             .join(orders.select("o_orderkey", "o_custkey"),
                   lineitem.l_orderkey == orders.o_orderkey)
             .join(F.broadcast(cust_nation), F.col("o_custkey") == F.col("c_custkey"))
             .join(F.broadcast(supp_nation), lineitem.l_suppkey == F.col("s_suppkey"))
             .where(F.col("supp_nation") != F.col("cust_nation"))
             .groupBy(F.col("supp_nation").alias("src"),
                      F.col("cust_nation").alias("dst"))
             .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                  .alias("amount"),
                  F.count(F.lit(1)).alias("n_lines")))

    vertices = nation.select(F.col("n_name").alias("id"),
                             F.col("n_regionkey").alias("regionkey"))
    assert_unique_key(vertices, "id")
    return Graph(vertices=vertices, edges=edges)



#: rows per partition of a stationary table (:func:`_sized_partitions`),
#: and the gate of the one-task loops: a loop whose counted vertex and
#: stationary edge tables both hold at most this many rows runs every
#: superstep in one task (:func:`_one_task_loop`)
_ONE_TASK_ROWS = 100_000


def _sized_partitions(df: DataFrame,
                      rows_per_partition: int = _ONE_TASK_ROWS) -> DataFrame:
    """Partition an (already materialized) stationary table in
    proportion to its size: a 600-edge local graph becomes 1 partition
    (every superstep stage = 1 task instead of 32 near-empty ones); a
    1e9-edge graph keeps cluster width.  The count is free -- callers
    pass a localCheckpoint'd frame."""
    n = df.count()
    target = max(1, min(local_cpus(), n // rows_per_partition + 1))
    if df.rdd.getNumPartitions() == target:
        return df  # already the right width: skip a copy job (§1/§5)
    return df.repartition(target).localCheckpoint()


def _loop_input(verts: DataFrame, edges: DataFrame, weight=None,
                teleport: DataFrame | None = None
                ) -> tuple[DataFrame, int, int]:
    """Materialize a superstep loop's inputs once, counted in the same
    job: the gate of :func:`_one_task_loop`.

    The inputs are unioned as tagged rows ``(tag, src, dst, w)`` -- tag
    0: a vertex ``id`` in ``src``; tag 1: an ``edges`` row (``src``,
    ``dst``, optional ``weight``); tag 2: a ``teleport`` row (``id``,
    ``tele`` in ``w``) -- with ids cast to the vertex id's type.  One
    eager ``localCheckpoint`` materializes the union while an
    ``Observation`` counts its vertex and edge rows (the Pregel-style
    materialize-and-count), so the gate costs exactly that job.
    Returns ``(rows, n_verts, n_edges)``: a loop whose counts both fit
    ``_ONE_TASK_ROWS`` passes ``rows`` to :func:`_one_task_loop`; a
    larger one reads its tables back with :func:`_tagged`, so nothing
    is computed twice."""
    from pyspark.sql import Observation
    id_type = verts.schema["id"].dataType
    no_id = F.lit(None).cast(id_type)
    no_w = F.lit(None).cast("double")

    def tagged(tag, df, src, dst, w):
        return df.select(F.lit(tag).cast("tinyint").alias("tag"),
                         F.col(src).cast(id_type).alias("src"),
                         (F.col(dst).cast(id_type) if dst else no_id)
                         .alias("dst"),
                         (F.col(w).cast("double") if w else no_w)
                         .alias("w"))

    rows = tagged(0, verts, "id", None, None).union(
        tagged(1, edges, "src", "dst", weight))
    if teleport is not None:
        rows = rows.union(tagged(2, teleport, "id", None, "tele"))
    obs = Observation()
    rows = rows.observe(
        obs, F.count_if(F.col("tag") == 0).alias("n_verts"),
        F.count_if(F.col("tag") == 1).alias("n_edges")
    ).localCheckpoint(eager=True)
    counts = obs.get
    return rows, counts["n_verts"], counts["n_edges"]


def _tagged(rows: DataFrame, tag: int, *cols) -> DataFrame:
    """One input table of a :func:`_loop_input` union."""
    return rows.where(F.col("tag") == tag).select(*cols)


def _one_task_loop(kernel, rows: DataFrame, value: str,
                   value_type=None) -> DataFrame:
    """Run a whole superstep loop as ONE Spark task.

    ``rows`` is a :func:`_loop_input` checkpoint, coalesced into one
    partition and handed to ``kernel`` through ``mapInArrow``.  The
    task dictionary-encodes every id (nulls included) and calls
    ``kernel(tag, s, d, w, dic, ok)`` with numpy positions into the
    dictionary ``dic`` (``ok``: the position holds a non-null id; a
    null ``w`` reads 0.0).  The kernel runs every superstep and returns
    ``(rows, values)``: dictionary positions of the output ids and an
    Arrow array of their values.  Ids keep the vertex id's own type.
    ``kernel`` must be a closure (see :func:`_rank_kernel`): closures
    pickle by value, so executors need not import this package.

    The result is lazy: the loop runs in the final action's job.
    Callers gate on ``_ONE_TASK_ROWS`` -- the whole loop state must fit
    one Python task."""
    id_type = rows.schema["src"].dataType
    schema = StructType([StructField("id", id_type),
                         StructField(value, value_type or id_type)])

    def run(batches):
        import pyarrow as pa
        import pyarrow.compute as pc
        batches = list(batches)
        if not batches:
            return
        tab = pa.Table.from_batches(batches)
        n = tab.num_rows
        enc = pc.dictionary_encode(
            pa.concat_arrays([tab["src"].combine_chunks(),
                              tab["dst"].combine_chunks()]),
            null_encoding="encode")
        idx = enc.indices.to_numpy(zero_copy_only=False)
        dic = enc.dictionary
        out, vals = kernel(
            tab["tag"].to_numpy(), idx[:n], idx[n:],
            pc.fill_null(tab["w"], 0.0).to_numpy(),
            dic, pc.is_valid(dic).to_numpy(zero_copy_only=False))
        yield pa.RecordBatch.from_arrays(
            [dic.take(pa.array(out, pa.int64())), vals], ["id", value])

    return rows.coalesce(1).mapInArrow(run, schema)


def _rank_kernel(damping: float, max_iter: int, n: int,
                 personalized: bool):
    """:func:`_rank_loop`'s supersteps as a :func:`_one_task_loop`
    kernel.  Same math, step for step: edges with a null endpoint
    dropped, 0-share self edges for every vertex, one (v, sentinel,
    1.0) edge per dangling vertex, ``contrib`` = the per-``dst`` sum of
    ``rank * share`` over edges whose ``src`` holds a rank, and the
    next ranks are exactly the aggregate's ids (minus the sentinel; for
    personalized ranks, those with a teleport row)."""
    def kernel(tag, s, d, w, dic, ok):
        import numpy as np
        import pyarrow as pa
        k = len(dic)
        sent = k  # the dangling sentinel's position
        v, t = s[tag == 0], s[tag == 2]
        e = (tag == 1) & ok[s] & ok[d]
        has_out = np.zeros(k, bool)
        has_out[s[e]] = True
        live = v[ok[v]]  # a null vertex id never joins an edge
        dang = live[~has_out[live]]
        src = np.concatenate([s[e], live, dang])
        dst = np.concatenate([d[e], live, np.full(len(dang), sent)])
        share = np.concatenate([w[e], np.zeros(len(live)),
                                np.ones(len(dang))])

        rank = np.zeros(k + 1)
        has_rank = np.zeros(k + 1, bool)
        if personalized:
            tele = np.zeros(k + 1)
            tele[t] = w[tag == 2]
            is_tele = np.zeros(k + 1, bool)
            is_tele[t[ok[t]]] = True
            has_rank[t], rank[t] = True, tele[t]
        else:
            has_rank[v], rank[v] = True, 1.0 / n
        for _ in range(max_iter):
            m = has_rank[src]
            ms, md = src[m], dst[m]
            contrib = np.bincount(md, weights=rank[ms] * share[m],
                                  minlength=k + 1)
            has_rank = np.zeros(k + 1, bool)
            has_rank[md] = True
            dm = contrib[sent]
            has_rank[sent] = False
            if personalized:
                has_rank &= is_tele
                rank = ((1.0 - damping) * tele
                        + damping * (contrib + dm * tele))
            else:
                rank = (1.0 - damping) / n + damping * (contrib + dm / n)
        out = np.flatnonzero(has_rank)
        return out, pa.array(rank[out])
    return kernel


def _cc_kernel(max_iter: int):
    """:func:`connected_components`' supersteps as a
    :func:`_one_task_loop` kernel: synchronous min-label propagation
    over the undirected edges between vertices, at most ``max_iter``
    steps, stopping at the fixpoint.  Labels are positions in the id
    type's own sort order, so the minimum is the id type's minimum (a
    long stays a long; strings compare bytewise, as Spark does)."""
    def kernel(tag, s, d, w, dic, ok):
        import numpy as np
        import pyarrow.compute as pc
        v = s[tag == 0]
        is_v = np.zeros(len(dic), bool)
        is_v[v[ok[v]]] = True
        e = tag == 1
        keep = is_v[s[e]] & is_v[d[e]]
        a = np.concatenate([s[e][keep], d[e][keep]])
        b = np.concatenate([d[e][keep], s[e][keep]])
        order = pc.sort_indices(dic).to_numpy().astype(np.int64)
        label = np.empty_like(order)
        label[order] = np.arange(len(order))
        for _ in range(max_iter):
            new = label.copy()
            np.minimum.at(new, b, label[a])
            if np.array_equal(new, label):
                break
            label = new
        return v, dic.take(order[label[v]])
    return kernel


@contextmanager
def _small_loop_mode(spark: SparkSession, small: bool,
                     width_df: DataFrame) -> Iterator:
    """The small-iterative-loop diet, scoped to a ``with`` block: when
    the loop's per-step state is provably small, the block runs with
    (a) AQE off -- AQE materializes and re-plans every exchange it
    meets, one round trip per superstep exchange, which is pure driver
    latency on tiny supersteps -- and (b) the static shuffle width
    following the materialized stationary ``width_df`` (at least 1)
    instead of the core count, whose near-empty reduce tasks otherwise
    dominate.  The block gets (c) a hint function that puts an
    EXPLICIT broadcast on the loop's vertex/frontier-sized join sides.
    A big input fails the ``small`` gate: the block then keeps the
    session's settings and the hint is the identity.

    AQE-off is safe ONLY with the explicit broadcasts: the loops join
    stats-less checkpointed frontiers, for which the static planner
    falls back to SortMergeJoin, and AQE-off without the hints
    measured 1.33-1.89x worse on the BFS / Borůvka / temporal-relay
    loops; with the hints the static plan is the one AQE would have
    converged to, minus the re-planning.  Width shrinking is
    reduction-order-exact: every aggregate inside the gated loops is an
    integer/struct MIN, COUNT, SUM(long) or DISTINCT.

    The confs are restored when the block exits (:func:`scoped_conf`),
    so whatever the query plans after its loop -- e.g. betweenness's
    closure joins, which want AQE's runtime broadcasts -- plans at the
    session's own settings (measured: leaving the diet on for the whole
    query cost more than the loop saved).  A loop result that still
    carries an unplanned tail takes a lazy checkpoint inside the block."""
    confs = ({"spark.sql.adaptive.enabled": "false",
              "spark.sql.shuffle.partitions":
                  str(max(1, width_df.rdd.getNumPartitions()))}
             if small else {})
    with scoped_conf(spark, confs):
        yield F.broadcast if small else (lambda df: df)


def _fixpoint(name: str, state: DataFrame, step, max_iter: int,
              n: int | None = None) -> DataFrame:
    """The synchronous iterate-until-nothing-changes loop.  Each round
    ``step(state)`` returns the next state plus an int ``__chg`` flag
    (1 = this row changed; a shrinking set emits ``F.lit(0)``), which
    is checkpointed lazily; ONE aggregate job reads ``count(*)`` and
    ``sum(__chg)`` and materializes the checkpoint.  Stops when no row
    changed and the count equals the previous round's (``n``: the
    caller's starting count; ``None`` = the flags decide round 1);
    running out of ``max_iter`` first warns.  Returns the state without
    ``__chg``.  A caller on the small-loop diet calls it inside its
    ``_small_loop_mode`` block, its step closing over the hint."""
    for _ in range(max_iter):
        nxt = step(state).localCheckpoint(eager=False)
        rows, changed = nxt.agg(F.count(F.lit(1)), F.sum("__chg")).first()
        state = nxt.drop("__chg")
        if not changed and n in (None, rows):
            return state
        n = rows
    _warn_budget(name, "max_iter", max_iter)
    return state


def _rank_loop(verts: DataFrame, edges_share: DataFrame,
               damping: float, max_iter: int, checkpoint_every: int,
               out_name: str, teleport: DataFrame | None = None) -> DataFrame:
    """Shared power-iteration driver.  ``edges_share`` must carry
    (src, dst, share) where ``share`` is the per-edge contribution
    fraction of the source's rank.  Ranks start uniform 1/N; each step
    ``r' = (1-d)/N + d * (in_contribs + dangling_mass/N)`` -- the
    classic formulation with dangling-mass redistribution, so ranks
    stay a distribution (sum 1) when shares sum to 1 per source (true
    for PageRank; ArticleRank deliberately leaks mass, as published).

    The superstep is ONE broadcast join + ONE aggregation -- nothing
    else.  Two synthetic-edge tricks flatten everything the naive loop
    did with extra per-step operators:

    - every vertex gets a 0-share SELF-edge, so the per-``dst``
      aggregate covers all vertices (zero in-degree included) and the
      old per-step ``verts`` left-join disappears;
    - every dangling vertex gets one (src, NULL, 1.0) edge, so its
      whole rank arrives as the null-id sentinel row of the SAME
      aggregate (edges with a null endpoint are dropped up front, so
      the sentinel is never a real edge's destination, whatever the id
      type).  The per-iteration plan then references ``ranks``
      exactly once -- the old semi-join dangling sum referenced it
      twice, doubling the plan per superstep (2^k analyzer blowup) and
      forcing per-step checkpoints.  The sentinel's value is spread
      back as a 1-ROW BROADCAST: the superstep aggregate is
      materialized (localCheckpoint -- the Pregel-style per-superstep
      materialization, so reading it twice is two scans of cached
      partitions, not a plan doubling), the sentinel row collapses to
      a scalar via a global aggregate over an already-1-row filter,
      and a broadcast cross-join pins it onto every vertex row.  No
      stage ever funnels the vertex-sized aggregate through one
      partition, so there is no vertex-count ceiling (the old design
      spread the sentinel with a global window = single-partition
      exchange, capped ~100M vertices).

    ``teleport`` generalizes to PERSONALIZED ranks: a stationary
    (id, tele) distribution replacing the uniform 1/N restart -- both
    the (1-d) restart mass and the dangling mass land on ``tele``
    instead of everywhere.  It joins the vertex-sized aggregate once
    per superstep as a stationary broadcast; the single-``ranks``-
    reference invariant that keeps the plan linear is untouched.

    Small graphs skip all of the above.  The gate
    (:func:`_loop_input`) materializes the vertices, the stationary
    edges and the teleport vector in one observed checkpoint job, which
    also counts the ``n`` vertices and the edges; when both fit
    ``_ONE_TASK_ROWS`` rows the whole loop runs as one task
    (:func:`_one_task_loop` + :func:`_rank_kernel`, the same math on
    numpy arrays; the result is lazy).  Only larger graphs run the
    distributed supersteps, over tables read back from that
    checkpoint."""
    rows, n, n_edges = _loop_input(
        verts, edges_share.where(F.col("src").isNotNull()
                                 & F.col("dst").isNotNull()),
        weight="share", teleport=teleport)
    if n <= _ONE_TASK_ROWS and n_edges <= _ONE_TASK_ROWS:
        kernel = _rank_kernel(damping, max_iter, n, teleport is not None)
        return _one_task_loop(kernel, rows, out_name, DoubleType())
    verts = _tagged(rows, 0, F.col("src").alias("id"))
    edges_share = _tagged(rows, 1, "src", "dst", F.col("w").alias("share"))
    if teleport is not None:
        teleport = _tagged(rows, 2, F.col("src").alias("id"),
                           F.col("w").alias("tele"))
        ranks = teleport.select("id", F.col("tele").alias("rank"))
    else:
        ranks = verts.select("id", F.lit(1.0 / n).alias("rank"))
    has_out = edges_share.select(F.col("src").alias("id")).distinct()
    # lazy checkpoint + count: the count materializes the checkpoint
    # in the SAME job (an eager checkpoint would run one job to copy
    # and a second to count -- guide §1/§5, fewer driver actions)
    dangling = verts.join(has_out, "id", "left_anti") \
        .localCheckpoint(eager=False)
    n_dangling = dangling.count()
    synth = verts.select(F.col("id").alias("src"), F.col("id").alias("dst"),
                         F.lit(0.0).alias("share"))
    if n_dangling:
        synth = synth.unionByName(
            dangling.select(F.col("id").alias("src"),
                            F.lit(None).cast(edges_share.schema["dst"]
                                             .dataType).alias("dst"),
                            F.lit(1.0).alias("share")))
    edges_share = _sized_partitions(
        edges_share.unionByName(synth).localCheckpoint())

    # the rank vector is vertex-sized: broadcast it only while it
    # plausibly fits executor memory (~24B/row); past that it must
    # SHUFFLE onto the stationary src-partitioned edge table
    small_vector = n <= 10_000_000
    # AQE's per-exchange re-plan is pure driver latency on supersteps
    # whose join is an explicit broadcast (measured: loop alone 3.3s
    # AQE-on -> 2.1s AQE-off); the shuffle width stays the session's
    aqe_off = {"spark.sql.adaptive.enabled": "false"} if small_vector else {}
    with scoped_conf(verts.sparkSession, aqe_off):
        for i in range(max_iter):
            rhs = F.broadcast(ranks) if small_vector else ranks
            contribs = (edges_share.join(rhs, edges_share.src == ranks.id)
                        .groupBy(F.col("dst").alias("id"))
                        .agg(F.sum(F.col("rank") * F.col("share"))
                             .alias("contrib")))
            if n_dangling:
                # materialize the superstep aggregate once; its two
                # consumers (the scalar and the vertex rows) then read
                # cached partitions -- lineage stays linear with no
                # per-step plan doubling, and nothing below funnels
                # through a single partition
                # lazy: the logical plan is truncated to an RDD scan at
                # call time either way (no 2^k analyzer blowup); eager
                # would add a SEPARATE job per superstep, while lazy lets
                # the dm broadcast-collect job materialize (and cache)
                # the aggregate in the same pass its first consumer runs
                contribs = contribs.localCheckpoint(eager=False)
                dm = (contribs.where(F.col("id").isNull())
                      .agg(F.coalesce(F.max("contrib"), F.lit(0.0))
                           .alias("__dm")))
                contribs = (contribs.where(F.col("id").isNotNull())
                            .crossJoin(F.broadcast(dm)))
            else:
                contribs = contribs.withColumn("__dm", F.lit(0.0))
            if teleport is not None:
                ranks = (contribs.join(F.broadcast(teleport), "id")
                         .select("id",
                                 (F.lit(1.0 - damping) * F.col("tele")
                                  + F.lit(damping)
                                  * (F.col("contrib")
                                     + F.col("__dm") * F.col("tele")))
                                 .alias("rank")))
            else:
                ranks = contribs.select(
                    "id",
                    (F.lit((1.0 - damping) / n)
                     + F.lit(damping)
                     * (F.col("contrib") + F.col("__dm") / n))
                    .alias("rank"))
            # the dangling path already materializes once per superstep;
            # the periodic checkpoint only serves the no-dangling path.
            # The final iteration always checkpoints so the LAST loop
            # segment is physically planned here in the builder, under
            # the loop's confs.
            if i == max_iter - 1 or (not n_dangling
                                     and (i + 1) % checkpoint_every == 0):
                ranks = ranks.localCheckpoint(eager=False)
    return ranks.withColumnRenamed("rank", out_name)


def _share_edges(graph: Graph, weighted: bool) -> DataFrame:
    """(src, dst, share) for the rank loop: each edge's fraction of its
    source's total out-weight -- ``amount`` when ``weighted`` and the
    edges carry it, else 1.0 per edge."""
    weight = (F.col("amount") if weighted and "amount" in graph.edges.columns
              else F.lit(1.0))
    edges = graph.edges.select("src", "dst", weight.cast("double").alias("w"))
    out_w = edges.groupBy("src").agg(F.sum("w").alias("out_w"))
    return (edges.join(out_w, "src")
            .select("src", "dst",
                    (F.col("w") / F.col("out_w")).alias("share")))


def pagerank(graph: Graph, damping: float = 0.85, max_iter: int = 20,
             weighted: bool = False, checkpoint_every: int = 5) -> DataFrame:
    """G1: PageRank as iterative DataFrame supersteps.

    Parity: GDS run at preprocess_upload_neo4j.py:420-430 with
    maxIterations=20, dampingFactor=0.85.  NOTE the reference projects
    the ``amount`` weight (:406-408) but does NOT pass
    ``relationshipWeightProperty``, so its ranks are UNWEIGHTED -- our
    default matches; ``weighted=True`` exposes the variant the
    reference author probably intended.
    """
    edges_share = _share_edges(graph, weighted)
    return _rank_loop(graph.vertices.select("id"), edges_share, damping,
                      max_iter, checkpoint_every, "pagerank")


def personalized_pagerank(graph: Graph, sources: list,
                          damping: float = 0.85, max_iter: int = 20,
                          weighted: bool = False,
                          checkpoint_every: int = 5) -> DataFrame:
    """Personalized PageRank: random walks restart at the SOURCE SET
    (uniformly over it) instead of everywhere -- rank becomes
    "importance as seen from these nodes", the standard
    similar-node / recommendation primitive.  Dangling mass also
    returns to the sources, keeping the scores a distribution.

    Same superstep plan as :func:`pagerank`; the teleport vector is a
    stationary vertex-sized broadcast joined into the per-step
    aggregate.

    Every source must exist in ``graph.vertices``: an absent seed
    would silently drop 1/len(sources) of the teleport (and dangling)
    mass, so scores would stop summing to 1 with no error -- rejected
    up front with one small count."""
    assert len(set(sources)) == len(sources), "duplicate ppr sources"
    # lazy checkpoint: the presence count materializes it in its job
    verts = graph.vertices.select("id").localCheckpoint(eager=False)
    n_found = verts.where(F.col("id").isin(sources)).count()
    missing = len(sources) - n_found
    assert missing == 0, (
        f"personalized_pagerank: {missing} of {len(sources)} sources "
        "absent from graph.vertices; their teleport mass would vanish")
    tele = verts.select(
        "id", F.when(F.col("id").isin(sources),
                     F.lit(1.0 / len(sources)))
        .otherwise(F.lit(0.0)).alias("tele"))
    return _rank_loop(verts, _share_edges(graph, weighted), damping,
                      max_iter, checkpoint_every, "ppr", teleport=tele)


def articlerank(graph: Graph, damping: float = 0.85, max_iter: int = 20,
                checkpoint_every: int = 5) -> DataFrame:
    """G2: ArticleRank (GDS defaults, preprocess_upload_neo4j.py:442-447).

    Published formulation: like PageRank but each source's contribution
    divisor is ``out_deg(src) + avg_out_deg`` where ``avg_out_deg`` is
    the mean out-degree over ALL vertices; damping 0.85, start 1/N,
    dangling mass redistributed as in PageRank.
    """
    # lazy checkpoint: count() materializes it in the same job
    verts = graph.vertices.select("id").localCheckpoint(eager=False)
    n = verts.count()

    edges = graph.edges.select("src", "dst")
    out_deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
    avg_out_deg = edges.count() / n
    edges_share = (edges.join(out_deg, "src")
                   .select("src", "dst",
                           (F.lit(1.0) / (F.col("out_deg") + F.lit(avg_out_deg)))
                           .alias("share")))
    return _rank_loop(verts, edges_share, damping, max_iter,
                      checkpoint_every, "articlerank")


def undirected_edges(edges: DataFrame) -> DataFrame:
    """Canonicalize a digraph to distinct undirected edges (a < b)."""
    return (edges.select(F.least("src", "dst").alias("a"),
                         F.greatest("src", "dst").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct())


def triangle_count(graph: Graph) -> DataFrame:
    """Triangles per vertex on the undirected graph.

    Classic two-join enumeration over canonicalized (a < b) edges:
    wedges a-b-c (a < b < c) joined against the closing edge (a, c).
    Each triangle is found exactly once, then credited to its three
    vertices.  Scale shape: the wedge join is an equi-join on the
    shared vertex -- sum(deg^2) work, the standard pre-AQE skew
    concern; high-degree hubs are exactly what AQE skew-split handles.
    """
    e = undirected_edges(graph.edges)
    wedge = (e.alias("e1")
             .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
             .select(F.col("e1.a").alias("x"), F.col("e1.b").alias("y"),
                     F.col("e2.b").alias("z")))
    tri = (wedge.join(e, (F.col("x") == F.col("a"))
                      & (F.col("z") == F.col("b")))
           .select("x", "y", "z"))
    per_vertex = (tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
                  .groupBy("id")
                  .agg(F.count(F.lit(1)).alias("n_triangles")))
    return (graph.vertices.select("id")
            .join(per_vertex, "id", "left")
            .na.fill({"n_triangles": 0}))


def connected_components(graph: Graph, max_iter: int = 50) -> DataFrame:
    """Connected components (undirected) by iterative min-label
    propagation: every vertex starts labeled with its own id; each
    superstep takes the min of its own and all neighbors' labels;
    stop at fixpoint.

    Convergence needs <= diameter supersteps (world trade graphs:
    tiny; 100-TB web graphs: ~20).  Each superstep is one edge-sized
    join + vertex-sized min-aggregate, one :func:`_fixpoint` round.  (The
    large-star/small-star algorithm halves superstep count for
    pathological chains; min-propagation is the simple, shuffle-
    minimal default.)

    Small graphs run the whole loop as one task: the gate
    (:func:`_loop_input`) materializes the vertices and the undirected
    edge table in one observed checkpoint job that also counts them,
    and when both fit ``_ONE_TASK_ROWS`` rows :func:`_one_task_loop` +
    :func:`_cc_kernel` propagate the same labels with the same
    ``max_iter`` and fixpoint (the result is lazy; ids and labels keep
    the vertex id's type).  Only larger graphs run the distributed
    supersteps, over tables read back from that checkpoint."""
    ue = undirected_edges(graph.edges)
    rows, n_labels, n_edges = _loop_input(
        graph.vertices, ue.select(F.col("a").alias("src"),
                                  F.col("b").alias("dst")))
    if n_labels <= _ONE_TASK_ROWS and n_edges <= _ONE_TASK_ROWS:
        return _one_task_loop(_cc_kernel(max_iter), rows, "component")
    labels = _tagged(rows, 0, F.col("src").alias("id"),
                     F.col("src").alias("component"))
    ue = _tagged(rows, 1, F.col("src").alias("a"), F.col("dst").alias("b"))
    both = ue.union(ue.select(F.col("b").alias("a"), F.col("a").alias("b")))
    small = n_labels <= 10_000_000
    with _small_loop_mode(ue.sparkSession, small, ue) as _b:
        def propagate(labels: DataFrame) -> DataFrame:
            neigh = (both.join(_b(labels), both.a == labels.id)
                     .groupBy(F.col("b").alias("id"))
                     .agg(F.min("component").alias("nbr_min")))
            relaxed = F.least(F.col("component"),
                              F.coalesce(F.col("nbr_min"), F.col("component")))
            return (labels.join(_b(neigh), "id", "left")
                    .select("id", relaxed.alias("component"),
                            (relaxed != F.col("component")).cast("int")
                            .alias("__chg")))
        return _fixpoint("connected_components", labels, propagate, max_iter)


def strongly_connected_components(graph: Graph, max_pivots: int = 50,
                                  max_hops: int = 50) -> DataFrame:
    """Strongly connected components of a DIGRAPH by FW-BW-Trim (the
    published distributed SCC recipe: Fleischer et al.'s
    forward-backward reachability with trimming, the algorithm behind
    most Pregel/BSP SCC implementations).  Complements
    :func:`connected_components`, which ignores direction.

    Per round: TRIM iteratively peels vertices with zero in- or
    out-degree inside the remaining subgraph (each is a singleton SCC
    -- on real digraphs the vast majority of vertices leave here,
    cheaply), then one PIVOT (the min remaining id) runs a forward and
    a backward frontier BFS; the intersection is exactly the pivot's
    SCC.  Assigned vertices drop out and the next round runs on the
    rest.

    ``scc_id`` is the MIN member id of the component (the pivot is the
    global min of the remaining set, hence the min of its own SCC; a
    trimmed singleton is its own min) -- a deterministic labeling a
    SQL reachability oracle can reproduce.

    Scale shape: every step is frontier-sized joins + distincts; the
    only driver-side values are 1-row counts and the pivot id.  Round
    count = #non-trivial SCCs, which trimming keeps small on
    power-law graphs (web crawls: one giant SCC + tendrils).  A graph
    with MANY large SCCs degrades to one BFS pair per SCC -- the
    known FW-BW bound; ``max_pivots`` caps it and any leftover is
    labeled as its own singleton with a RuntimeWarning (upper-bound
    labeling, never silent)."""
    edges = (graph.edges.select("src", "dst")
             .where(F.col("src") != F.col("dst"))
             .distinct().localCheckpoint())

    def within(rem: DataFrame) -> DataFrame:
        return (edges.join(rem.select(F.col("id").alias("src")), "src",
                           "left_semi")
                .join(rem.select(F.col("id").alias("dst")), "dst",
                      "left_semi"))

    def trim(state: DataFrame) -> DataFrame:
        # a live vertex stays live with an out- AND an in-edge inside
        # the live set (a peeled one is a singleton SCC): tag each
        # vertex with the ends of the live edges it holds and read all
        # three flags off ONE aggregate
        e_r = within(state.where("live"))
        tags = (state.select("id", F.col("live").cast("int").alias("__l"),
                             F.lit(0).alias("__o"), F.lit(0).alias("__i"))
                .union(e_r.select(F.col("src").alias("id"), F.lit(0),
                                  F.lit(1), F.lit(0)))
                .union(e_r.select(F.col("dst").alias("id"), F.lit(0),
                                  F.lit(0), F.lit(1))))
        live = (F.col("__o") + F.col("__i")) == 2
        return (tags.groupBy("id")
                .agg(*(F.max(c).alias(c) for c in ("__l", "__o", "__i")))
                .select("id", live.alias("live"),
                        (F.col("__l") - live.cast("int")).alias("__chg")))

    state = graph.vertices.select("id", F.lit(True).alias("live"))
    n = graph.vertices.count()
    # every piece is a checkpoint or a filter over one: their union is
    # never re-checkpointed (that copied the output once per round)
    pieces = []
    for _ in range(max_pivots):
        # TRIM: peel zero-in/zero-out vertices of the remaining
        # subgraph until none are left; a round that peels none is the
        # fixpoint, so n + 1 rounds always reach it
        state = _fixpoint("strongly_connected_components", state, trim,
                          n + 1)
        pieces.append(state.where(~F.col("live"))
                      .select("id", F.col("id").alias("scc_id")))
        remaining = state.where("live").select("id")
        # PIVOT: min remaining id; SCC = fwd-reach ∩ bwd-reach
        pivot, n = remaining.agg(F.min("id"), F.count(F.lit(1))).first()
        if pivot is None:
            break
        e_r = within(remaining)
        sub = Graph(remaining, e_r)
        rsub = Graph(remaining, e_r.select(F.col("dst").alias("src"),
                                           F.col("src").alias("dst")))
        fwd = bfs_hops(sub, [pivot], max_hops=max_hops) \
            .where(F.col("dist").isNotNull()).select("id")
        bwd = bfs_hops(rsub, [pivot], max_hops=max_hops) \
            .where(F.col("dist").isNotNull()).select("id")
        scc = fwd.join(bwd, "id").localCheckpoint(eager=False)
        pieces.append(scc.select("id", F.lit(pivot).alias("scc_id")))
        n -= scc.count()
        if not n:
            break
        state = (remaining.join(scc, "id", "left_anti")
                 .withColumn("live", F.lit(True)))
    else:
        if n:
            warnings.warn(
                f"scc: {n} vertices unassigned after "
                f"max_pivots={max_pivots} rounds; labeling them as "
                "singletons (upper bound)", RuntimeWarning, stacklevel=2)
        pieces.append(state.select("id", F.col("id").alias("scc_id")))
    w = Window.partitionBy("scc_id")
    return reduce(DataFrame.union, pieces).select(
        "id", "scc_id", F.count(F.lit(1)).over(w).alias("scc_size"))


def _bfs_edges(graph: Graph, directed: bool) -> DataFrame:
    """The stationary (src, dst) table a BFS expands over: distinct
    pairs, both directions unless ``directed``, held once."""
    edges = graph.edges.select("src", "dst")
    if not directed:
        edges = edges.union(graph.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")))
    return edges.distinct().localCheckpoint()


def _frontier_bfs(name: str, frontier: DataFrame, keys: list, step,
                  small: bool, stationary: DataFrame,
                  max_hops: int) -> DataFrame:
    """The level-synchronous BFS superstep loop of the BFS family
    (:func:`bfs_hops`, :func:`_multi_root_bfs`, :func:`bridges`): one
    dataflow plan per superstep with a per-program message step, as
    Pregelix runs a vertex program.

    ``frontier`` holds the hop-0 rows, ``(*keys, id, ...)``: one BFS
    per distinct ``keys`` value (a root, an excluded edge) expands in
    the SAME supersteps.  Each hop ``step(hinted_frontier, hop)``
    expands the frontier over the caller's edges into next-level rows
    of the frontier's columns, one per ``(*keys, id)``; the driver
    anti-joins them against the visited pairs, checkpoints the level
    lazily and stops at the first empty one.  Work per superstep is
    frontier-sized.  Returns the visited union (hop-0 rows included).

    The whole loop runs under ``_small_loop_mode(small, stationary)``:
    the caller sizes the gate (its state bound) and counts it.  One
    probe level past ``max_hops`` warns only if the live frontier would
    STILL discover vertices (a bare for/else false-positived when a BFS
    completed at exactly ``max_hops``).

    Loop-shape invariant: no checkpoint on the visited union.  Every
    leaf (a level) is already a materialized checkpoint, so the union
    is plan glue; checkpointing it copied the ENTIRE closure once per
    hop (O(hops^2) bytes at any scale).  The union grows one plan leg
    per hop, linear and bounded by ``max_hops``.  The companion
    invariant is in :func:`_small_loop_mode`: AQE goes off only while
    these stats-less frontier joins carry explicit broadcasts."""
    visited = frontier
    with _small_loop_mode(stationary.sparkSession, small, stationary) as _b:
        for hop in range(1, max_hops + 2):
            nxt = (step(_b(frontier), hop)
                   .join(_b(visited.select(*keys, "id")), [*keys, "id"],
                         "left_anti")
                   .localCheckpoint(eager=False))
            if nxt.isEmpty():
                break
            if hop > max_hops:
                _warn_budget(name, "max_hops", max_hops)
                break
            visited = visited.union(nxt)
            frontier = nxt
    return visited


def bfs_hops(graph: Graph, sources: list, max_hops: int = 20,
             directed: bool = True) -> DataFrame:
    """Minimum hop count from any source vertex (unweighted BFS).

    Frontier expansion (:func:`_frontier_bfs`): each superstep joins
    the CURRENT frontier (only newly-discovered vertices, not the full
    visited set) against the edge table and anti-joins out
    already-visited vertices.  Work per superstep is
    frontier-out-degree-sized -- the scalable BFS shape; unreached
    vertices get NULL."""
    edges = _bfs_edges(graph, directed)
    frontier = (graph.vertices.select("id")
                .where(F.col("id").isin(sources))
                .withColumn("dist", F.lit(0)).localCheckpoint())

    def step(f: DataFrame, hop: int) -> DataFrame:
        return (edges.join(f, edges.src == f.id)
                .select(F.col("dst").alias("id"))
                .distinct()
                .withColumn("dist", F.lit(hop)))

    # small-loop gate: one shared frontier, bounded by the vertex count
    small = graph.vertices.count() <= 10_000_000
    visited = _frontier_bfs("bfs_hops", frontier, [], step, small, edges,
                            max_hops)
    return (graph.vertices.select("id")
            .join(visited, "id", "left")
            .select("id", "dist"))


def _multi_root_bfs(graph: Graph, sources: list | None = None,
                    max_hops: int = 30, directed: bool = True,
                    paths: bool = False) -> DataFrame:
    """Shared-frontier BFS from every root at once: returns the
    shortest-path closure (root, id, dist) including the dist-0 self
    rows.  All roots expand in the SAME supersteps (|diameter| rounds,
    each one frontier join + anti-join, :func:`_frontier_bfs`) -- the
    kernel under :func:`closeness_centrality` and
    :func:`graph_diameter`.

    ``paths`` also counts shortest paths: the closure gains ``npaths``,
    the number of distinct shortest root->id paths (sigma in Brandes'
    notation, for :func:`betweenness_centrality`).  The superstep
    shape is the same because BFS path counting is level-synchronous:
    the count of a vertex first reached at hop d is the sum of the
    counts of its hop-(d-1) predecessors, which is exactly the
    frontier aggregate."""
    edges = _bfs_edges(graph, directed)
    roots = graph.vertices.select("id")
    if sources is not None:
        roots = roots.where(F.col("id").isin(sources))
    npaths = [F.lit(1).cast("long").alias("npaths")] if paths else []
    frontier = (roots.select(F.col("id").alias("root"), "id",
                             F.lit(0).alias("dist"), *npaths)
                .localCheckpoint())

    def step(f: DataFrame, hop: int) -> DataFrame:
        out = edges.join(f, edges.src == f.id)
        if paths:
            return (out.groupBy("root", F.col("dst").alias("id"))
                    .agg(F.sum("npaths").alias("npaths"))
                    .select("root", "id", F.lit(hop).alias("dist"),
                            "npaths"))
        return (out.select("root", F.col("dst").alias("id"))
                .distinct()
                .withColumn("dist", F.lit(hop)))

    # small-loop gate: frontier/visited are bounded by the CLOSURE size
    # (roots x vertices)
    small = frontier.count() * graph.vertices.count() <= 10_000_000
    return _frontier_bfs("_multi_root_bfs", frontier, ["root"], step, small,
                         edges, max_hops)


def closeness_centrality(graph: Graph, sources: list | None = None,
                         max_hops: int = 30,
                         directed: bool = True) -> DataFrame:
    """Closeness centrality + eccentricity via multi-root BFS.

    One shared frontier carries (root, id, dist) triples, so all roots
    expand in the SAME supersteps -- |diameter| rounds total, each a
    frontier-sized join + anti-join, instead of |V| sequential BFS
    runs.  Per-root stats reduce the closure to one row per root:

    - ``closeness`` -- Wasserman-Faust normalization as GDS uses it:
      ``(r / sum_dist) * (r / (N - 1))`` where r = vertices reached
      (self excluded); 0.0 when nothing is reached.  The inputs are
      exact integers, so the two double divisions are IEEE-identical
      cross-engine.
    - ``eccentricity`` -- max shortest-path distance (NULL when
      nothing is reached); its max over roots is the graph diameter.

    Scale posture: the closure is O(V * V-within-distance) pairs --
    exact all-pairs is for moderate vertex counts (the reference's
    country graph).  At web scale pass ``sources`` = a landmark sample
    and the state stays |landmarks| * |V|; the superstep shape is
    unchanged.  Matches the Neo4j GDS closeness/eccentricity calls the
    reference's stack exposes next to pageRank
    (preprocess_upload_neo4j.py:400-447 runs the GDS family)."""
    visited = _multi_root_bfs(graph, sources, max_hops, directed)
    n_total = graph.vertices.count()
    stats = (visited.where(F.col("dist") > 0)
             .groupBy("root")
             .agg(F.count(F.lit(1)).alias("n_reached"),
                  F.sum("dist").alias("sum_dist"),
                  F.max("dist").alias("eccentricity")))
    r = F.col("n_reached").cast("double")
    return (graph.vertices.select(F.col("id"))
            .join(stats, F.col("id") == F.col("root"), "left")
            .select("id",
                    F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
                    F.when(F.col("sum_dist").isNotNull(),
                           (r / F.col("sum_dist").cast("double"))
                           * (r / F.lit(float(n_total - 1))))
                    .otherwise(F.lit(0.0)).alias("closeness"),
                    "eccentricity"))


def graph_diameter(graph: Graph, max_hops: int = 30,
                   directed: bool = True) -> DataFrame:
    """Global distance summary from the all-pairs BFS closure: one row
    with vertex/edge-reachability structure --

    - ``diameter``: max shortest-path distance over reachable pairs;
    - ``radius``: min eccentricity over roots that reach anything;
    - ``n_reachable_pairs`` / ``avg_path_len``: how connected the
      digraph is and how far apart things sit (exact integer sum, one
      final double division).

    Same O(pairs-within-distance) posture as
    :func:`closeness_centrality` -- exact for moderate |V|, landmark
    sampling at web scale."""
    visited = _multi_root_bfs(graph, None, max_hops, directed)
    pairs = visited.where(F.col("dist") > 0)
    ecc = pairs.groupBy("root").agg(F.max("dist").alias("ecc"))
    return (pairs.agg(F.count(F.lit(1)).alias("n_reachable_pairs"),
                      F.sum("dist").alias("sum_dist"),
                      F.max("dist").alias("diameter"))
            .crossJoin(F.broadcast(
                ecc.agg(F.min("ecc").alias("radius"))))
            .select("n_reachable_pairs", "diameter", "radius",
                    (F.col("sum_dist").cast("double")
                     / F.col("n_reachable_pairs").cast("double"))
                    .alias("avg_path_len")))


def sssp(graph: Graph, sources: list, weight_col: str = "cost",
         max_iter: int = 30) -> DataFrame:
    """Weighted single-source shortest path (Bellman-Ford supersteps):
    dist(v) starts at 0 for sources / NULL (infinity) elsewhere; each
    superstep relaxes every edge, dist(v) = min(dist(v),
    min over in-edges (dist(u) + w)).  Fixpoint-terminated (converges
    within |V|-1 relaxation rounds on any non-negative-weight graph).

    Integer weights keep the min exact and engine-portable (float path
    sums are also deterministic -- each path's sum accumulates in path
    order on both engines -- but integers remove rounding questions
    entirely); fractional weights are REJECTED (the long cast would
    silently truncate them) -- scale a float cost column to integer
    units upstream.  If the loop exits on ``max_iter`` without
    reaching the fixpoint a ``RuntimeWarning`` is emitted: distances
    are then upper bounds, not shortest paths.  Scale shape per
    superstep: one edge-sized equi-join against the settled-dist
    table + one vertex-keyed min-aggregate -- the same two-shuffle
    pattern as the rank loop; the iteration count is bounded by the
    weighted diameter, not |V| (fixpoint exit)."""
    edges = (graph.edges.select("src", "dst",
                                F.col(weight_col).cast("double").alias("wd"),
                                F.col(weight_col).cast("long").alias("w"))
             .localCheckpoint())
    n_frac = edges.where(
        ~F.col("wd").eqNullSafe(F.col("w").cast("double"))).count()
    assert n_frac == 0, (
        f"sssp: {n_frac} edges have non-integer '{weight_col}' values; "
        "the long cast would truncate them -- rescale to integer units")
    edges = edges.drop("wd")
    dist = (graph.vertices.select(
        "id", F.when(F.col("id").isin(sources), F.lit(0).cast("long"))
        .alias("dist"))
        .localCheckpoint())

    def relax(dist: DataFrame) -> DataFrame:
        cand = (edges.join(dist.select(F.col("id").alias("src"),
                                       F.col("dist").alias("du")), "src")
                .where(F.col("du").isNotNull())
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(F.col("du") + F.col("w")).alias("cand")))
        new = F.least(F.coalesce("dist", F.col("cand")),
                      F.coalesce("cand", F.col("dist")))
        return (dist.join(cand, "id", "left")
                .select("id", new.alias("dist"),
                        (~new.eqNullSafe(F.col("dist"))).cast("int")
                        .alias("__chg")))
    return _fixpoint("sssp", dist, relax, max_iter)


def label_propagation(graph: Graph, max_iter: int = 4) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation: every
    vertex starts in its own community (label = id); each superstep it
    adopts the most frequent label among its undirected neighbors,
    ties broken by smallest label; vertices with no neighbors keep
    their label.

    A FIXED iteration count (not fixpoint) is deliberate: synchronous
    LPA can oscillate on bipartite structures, and a fixed small k is
    the standard deterministic variant -- it also makes the computation
    exactly reproducible as generated oracle SQL (one CTE stage per
    superstep).  Scale shape per superstep: one edge-sized join + one
    (vertex x distinct-neighbor-label)-sized count + one vertex-keyed
    window -- all equi-partitioned on vertex id."""
    ue = undirected_edges(graph.edges)
    both = (ue.union(ue.select(F.col("b").alias("a"), F.col("a").alias("b")))
            .localCheckpoint())
    labels = graph.vertices.select("id", F.col("id").alias("label"))

    w = Window.partitionBy("id").orderBy(F.desc("n"), F.asc("label"))
    for _ in range(max_iter):
        counts = (both.join(labels, both.a == labels.id)
                  .groupBy(F.col("b").alias("id"), "label")
                  .agg(F.count(F.lit(1)).alias("n")))
        best = (counts.withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") == 1)
                .select("id", F.col("label").alias("new_label")))
        labels = (labels.join(best, "id", "left")
                  .select("id", F.coalesce("new_label", "label")
                          .alias("label"))
                  .localCheckpoint(eager=False))
    return labels.select("id", F.col("label").alias("community"))


def hits(graph: Graph, max_iter: int = 10,
         checkpoint_every: int = 5) -> DataFrame:
    """HITS hubs & authorities (Kleinberg): the natural companion to
    the reference's PageRank/ArticleRank GDS calls
    (/root/reference/preprocess_upload_neo4j.py:420-447) for a DIRECTED
    trade graph -- a good authority is imported-from by good hubs, a
    good hub imports from good authorities.

    Power iteration, L1-normalized ONCE at the end: per-step
    normalization only rescales (the direction is what converges), so
    deferring it halves the superstep work and drops the per-step
    global-total exchange entirely.  Unnormalized scores grow like
    (largest singular value)^(2*iters) <= max_degree^(2*iters) per
    coordinate -- far inside double range for any real iteration count
    (10 iters on a degree-1e6 graph is 1e120 of 1e308).  Every vertex
    gets a 0-weight self-edge so both per-side aggregates cover
    zero-degree vertices without a per-step vertex join -- lineage
    stays linear, checkpoint cadence stays sparse.  Per half-step: one
    broadcast join + one aggregate.  The final normalization is two
    windows over vertex-sized tables.
    """
    # lazy checkpoint: count() materializes it in the same job
    verts = graph.vertices.select("id").localCheckpoint(eager=False)
    n = verts.count()
    edges = _sized_partitions(
        graph.edges.select("src", "dst", F.lit(1.0).alias("w"))
        .unionByName(verts.select(F.col("id").alias("src"),
                                  F.col("id").alias("dst"),
                                  F.lit(0.0).alias("w")))
        .localCheckpoint())
    small_vector = n <= 10_000_000

    hub = verts.select("id", F.lit(1.0 / n).alias("hub"))
    auth = None
    for i in range(max_iter):
        cadence = (i + 1) % checkpoint_every == 0
        h_rhs = F.broadcast(hub) if small_vector else hub
        auth = (edges.join(h_rhs, edges.src == hub.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(F.col("hub") * F.col("w")).alias("auth")))
        if cadence:
            # checkpoint auth FIRST so the hub half-step (and its own
            # checkpoint) builds on the materialized auth instead of
            # recomputing the whole chain a second time
            auth = auth.localCheckpoint(eager=False)
        a_rhs = F.broadcast(auth) if small_vector else auth
        hub = (edges.join(a_rhs, edges.dst == auth.id)
               .groupBy(F.col("src").alias("id"))
               .agg(F.sum(F.col("auth") * F.col("w")).alias("hub")))
        if cadence:
            hub = hub.localCheckpoint(eager=False)

    def _l1(df: DataFrame, col: str) -> DataFrame:
        # L1 total as a scalar aggregate broadcast back -- never a
        # global window, which would funnel the vertex-sized table
        # through ONE partition (the same ceiling the rank loop's
        # sentinel spread removes)
        total_df = df.agg(F.sum(col).alias("__total"))
        return (df.crossJoin(F.broadcast(total_df))
                .select("id",
                        F.when(F.col("__total") > 0,
                               F.col(col) / F.col("__total"))
                        .otherwise(F.lit(1.0 / n)).alias(col)))

    return _l1(hub, "hub").join(_l1(auth, "auth"), "id") \
        .select("id", "hub", "auth")


def k_core(graph: Graph, k: int, max_iter: int = 50) -> DataFrame:
    """k-core membership by iterative peeling: repeatedly delete
    vertices whose UNDIRECTED degree falls below ``k`` (each deletion
    can drag neighbors below the bar) until the survivor set is
    stable.  The k-core is the standard "dense backbone" extraction --
    for a trade graph, the mutually-strongly-connected trading bloc.

    Output one row per vertex: (id, in_kcore).  Fixpoint-terminated:
    at most |V| peel rounds, usually far fewer.  Scale shape per
    round: one degree aggregate + two semi-joins, all equi-keyed on
    vertex id over the shrinking edge set; the edge table is
    checkpointed so lineage stays one round deep.  Extra peel rounds
    are idempotent (peeling a converged core changes nothing), which
    is what makes a fixed-round SQL oracle exact."""
    ue = undirected_edges(graph.edges)
    both = (ue.union(ue.select(F.col("b").alias("a"),
                               F.col("a").alias("b")))
            .localCheckpoint())

    def peel(e: DataFrame) -> DataFrame:
        keep = (e.groupBy(F.col("a").alias("id"))
                .agg(F.count(F.lit(1)).alias("deg"))
                .where(F.col("deg") >= k)
                .select("id"))
        return (e.join(keep.withColumnRenamed("id", "a"), "a", "left_semi")
                .join(keep.withColumnRenamed("id", "b"), "b", "left_semi")
                .select("a", "b", F.lit(0).alias("__chg")))
    both = _fixpoint("k_core", both, peel, max_iter, both.count())
    survivors = both.select("a").distinct().withColumnRenamed("a", "id")
    return (graph.vertices.select("id")
            .join(survivors.withColumn("in_kcore", F.lit(True)), "id", "left")
            .select("id", F.coalesce("in_kcore", F.lit(False))
                    .alias("in_kcore")))


def clustering_coefficient(graph: Graph) -> DataFrame:
    """Local clustering coefficient: the fraction of a vertex's
    neighbor pairs that are themselves connected --
    ``triangles(v) / C(deg(v), 2)``, 0 when deg < 2.  The standard
    "how clique-like is this node's neighborhood" measure; on a trade
    graph it separates hub-and-spoke nations from bloc members.

    Pure composition of :func:`triangle_count` and the undirected
    degree -- integer/integer division, engine-exact."""
    tri = triangle_count(graph)
    ue = undirected_edges(graph.edges)
    deg = (ue.select(F.col("a").alias("id"))
           .union(ue.select(F.col("b").alias("id")))
           .groupBy("id").agg(F.count(F.lit(1)).alias("deg")))
    pairs = (F.col("deg") * (F.col("deg") - 1) / 2)
    return (tri.join(deg, "id", "left")
            .select("id",
                    F.coalesce("deg", F.lit(0)).alias("degree"),
                    "n_triangles",
                    F.when(F.coalesce("deg", F.lit(0)) >= 2,
                           F.col("n_triangles") / pairs)
                    .otherwise(F.lit(0.0)).alias("clustering_coeff")))


def condensation(graph: Graph, max_iter: int = 50) -> DataFrame:
    """Condensation DAG of a digraph: contract every strongly
    connected component (:func:`strongly_connected_components`) to one
    node, then assign each component its TOPOLOGICAL LEVEL = longest
    path from any source component (level 0 = no upstream component).
    For a trade graph this is the supply-chain depth chart: which
    blocs feed which, and how long the dependency chains run.

    Levels iterate ``level(c) = 1 + max(level(preds))`` to fixpoint --
    guaranteed within DAG-depth rounds because the condensation is
    acyclic; extra rounds are idempotent (what makes a fixed-round SQL
    oracle exact).  Scale shape per round: one component-keyed join +
    aggregate over the component-level edge list, which is already
    collapsed (components x components), plus the one-off SCC run.

    Output: (comp, n_members, level)."""
    scc = strongly_connected_components(graph)
    lab = scc.select("id", "scc_id").localCheckpoint()
    comps = (scc.groupBy(F.col("scc_id").alias("comp"))
             .agg(F.count(F.lit(1)).alias("n_members")).localCheckpoint())
    e = graph.edges.select("src", "dst")
    cedges = (e.join(lab.withColumnRenamed("id", "src")
                     .withColumnRenamed("scc_id", "csrc"), "src")
              .join(lab.withColumnRenamed("id", "dst")
                    .withColumnRenamed("scc_id", "cdst"), "dst")
              .where(F.col("csrc") != F.col("cdst"))
              .select("csrc", "cdst").distinct().localCheckpoint())

    def deepen(levels: DataFrame) -> DataFrame:
        nxt = (comps.select("comp")
               .join(cedges, comps.comp == cedges.cdst, "left")
               .join(levels.withColumnRenamed("comp", "__p")
                     .withColumnRenamed("level", "__plvl"),
                     F.col("csrc") == F.col("__p"), "left")
               .groupBy("comp")
               .agg(F.coalesce(F.max(F.col("__plvl") + 1), F.lit(0))
                    .alias("level")))
        return (nxt.join(levels.withColumnRenamed("level", "__old"), "comp")
                .select("comp", "level", (F.col("level") != F.col("__old"))
                        .cast("int").alias("__chg")))
    levels = _fixpoint("condensation",
                       comps.select("comp", F.lit(0).alias("level")),
                       deepen, max_iter)
    return (comps.join(levels, "comp")
            .select("comp", "n_members", "level"))


def random_walks(graph: Graph, length: int = 4) -> DataFrame:
    """Deterministic random-walk corpus: one walk per vertex, up to
    ``length`` steps -- the sequence generator feeding node-embedding
    training (DeepWalk/node2vec's data-prep stage).  The "random"
    next-step choice is a keyed md5 coin: at step k the walk picks
    out-neighbor rank ``md5(walk_id:k) mod out_degree`` over the
    dst-ascending neighbor order -- fully replayable, engine-exact
    (the same md5-coin rationale as sampling.stratified_sample), no
    seed state to ship.  Dead-end walks stop and keep their path.

    Scale shape per step: one equi-join of the walk frontier against
    the stationary edge table + one per-walk window over that walk's
    candidate set (out-degree-sized partitions).  Walk state is one
    row per walk; paths grow as strings (bounded by length).

    Output: (walk_id, path, end_id, n_steps)."""
    edges = (graph.edges.select("src", "dst").distinct()
             .localCheckpoint())
    walks = (graph.vertices
             .select(F.col("id").alias("walk_id"),
                     F.col("id").alias("cur"),
                     F.col("id").alias("path"),
                     F.lit(0).alias("n_steps")))
    w = Window.partitionBy("walk_id").orderBy("dst")
    for step in range(1, length + 1):
        cand = (walks.join(edges, walks.cur == edges.src)
                .withColumn("__rn", F.row_number().over(w) - 1)
                .withColumn("__n", F.count(F.lit(1)).over(
                    Window.partitionBy("walk_id"))))
        coin = F.pmod(
            F.conv(F.substring(
                F.md5(F.concat(F.col("walk_id"), F.lit(f":{step}"))),
                1, 7), 16, 10).cast("long"),
            F.col("__n"))
        stepped = (cand.where(F.col("__rn") == coin)
                   .select("walk_id",
                           F.col("dst").alias("cur"),
                           F.concat("path", F.lit(">"), "dst")
                           .alias("path"),
                           (F.col("n_steps") + 1).alias("n_steps")))
        stuck = (walks.join(edges.select(F.col("src").alias("cur"))
                            .distinct(), "cur", "left_anti")
                 .select("walk_id", "cur", "path", "n_steps"))
        walks = stepped.unionByName(stuck).localCheckpoint(eager=False)
    return walks.select("walk_id", "path",
                        F.col("cur").alias("end_id"), "n_steps")


def link_prediction(graph: Graph, max_degree: int | None = None) -> DataFrame:
    """Link-prediction scores for non-adjacent vertex pairs sharing at
    least one neighbor: common-neighbor count, Jaccard similarity of
    neighborhoods, and Adamic-Adar (sum of 1/ln(deg) over the shared
    neighbors -- rare mutual contacts count more).  The standard
    who-should-trade-next / recommend-a-connection analytics on the
    reference's trade digraph (undirected view).

    Scale shape: candidate pairs come only from 2-path enumeration
    (join on the shared middle vertex), never an all-pairs product;
    a middle vertex of degree d emits d^2 wedges, so ``max_degree``
    caps which vertices may act as the MIDDLE of a wedge (the same
    hot-key guard as the dedup fingerprint joins: a 1e6-degree hub
    would otherwise emit 1e12 candidates).  Degrees and the final
    scores stay exact -- the cap only prunes candidate GENERATION, and
    capped-out pairs are the hub-mediated ones whose scores are
    dominated by low-information neighbors anyway.  Adamic-Adar
    addends go through decimal casts so the per-pair sum is
    reduction-order-independent.
    """
    ue = undirected_edges(graph.edges).localCheckpoint()
    both = ue.union(ue.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = both.groupBy(F.col("a").alias("id")) \
        .agg(F.count(F.lit(1)).alias("deg")).localCheckpoint()
    mids = deg if max_degree is None else deg.where(F.col("deg") <= max_degree)
    # the degree table is vertex-sized: broadcast it only while it
    # plausibly fits executor memory (same ceiling rule as the rank
    # loop's vector); past that it equi-joins through the shuffle
    small_verts = deg.count() <= 10_000_000
    bc = F.broadcast if small_verts else (lambda df: df)
    # wedges u - m - v with u < v, via the (middle -> endpoint) lists
    e1 = (both.select(F.col("a").alias("m"), F.col("b").alias("u"))
          .join(bc(mids.select(F.col("id").alias("m"),
                               F.col("deg").alias("mdeg"))), "m"))
    e2 = both.select(F.col("a").alias("m"), F.col("b").alias("v"))
    wedges = (e1.join(e2, "m").where(F.col("u") < F.col("v")))
    pairs = (wedges.groupBy(F.col("u").alias("a"), F.col("v").alias("b"))
             .agg(F.count(F.lit(1)).alias("common_neighbors"),
                  F.sum((F.lit(1.0)
                         / F.log(F.col("mdeg").cast("double")))
                        .cast("decimal(27,12)")).cast("double")
                  .alias("adamic_adar")))
    # drop already-connected pairs; attach endpoint degrees for Jaccard
    pairs = pairs.join(ue, ["a", "b"], "left_anti")
    da = deg.select(F.col("id").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("id").alias("b"), F.col("deg").alias("deg_b"))
    return (pairs.join(bc(da), "a").join(bc(db), "b")
            .select("a", "b", "common_neighbors",
                    (F.col("common_neighbors").cast("double")
                     / (F.col("deg_a") + F.col("deg_b")
                        - F.col("common_neighbors")).cast("double"))
                    .alias("jaccard"),
                    F.round("adamic_adar", 8).alias("adamic_adar")))


def harmonic_centrality(graph: Graph, sources: list | None = None,
                        max_hops: int = 30,
                        directed: bool = True) -> DataFrame:
    """Harmonic centrality: ``sum(1/dist)/(N-1)`` over reachable
    vertices -- the closeness variant that stays well-defined on
    DISCONNECTED graphs (unreachable vertices contribute 0 instead of
    poisoning the mean; Boldi-Vigna's recommended centrality for web
    graphs).  Same shared-frontier multi-root BFS kernel as
    :func:`closeness_centrality`; the 1/dist addends are decimal-cast
    so the per-root sum is reduction-order-independent."""
    visited = _multi_root_bfs(graph, sources, max_hops, directed)
    n_total = graph.vertices.count()
    stats = (visited.where(F.col("dist") > 0)
             .groupBy("root")
             .agg(F.count(F.lit(1)).alias("n_reached"),
                  F.sum((F.lit(1.0) / F.col("dist").cast("double"))
                        .cast("decimal(27,12)")).cast("double")
                  .alias("hsum")))
    return (graph.vertices.select("id")
            .join(stats, F.col("id") == F.col("root"), "left")
            .select("id",
                    F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
                    F.round(F.coalesce(F.col("hsum"), F.lit(0.0))
                            / F.lit(float(n_total - 1)), 8)
                    .alias("harmonic")))


def neighborhood_agg(graph: Graph, feature_cols: list,
                     features: DataFrame | None = None) -> DataFrame:
    """One GraphSAGE-style message-passing layer: for every vertex,
    the mean of its IN-neighbors' feature vector concatenated with its
    own features -- the DataFrame form of a GNN aggregation step (the
    embedding-prep sibling of the random-walk corpus: walk-based and
    aggregation-based graph features from the same edge table).

    ``features`` defaults to :meth:`Graph.degrees`.  Scale shape: one
    edge-sized equi-join (features broadcast while vertex-sized tables
    fit, same ceiling rule as the rank loop) + one vertex-keyed mean
    aggregate.  Means are decimal-exact sums over exact inputs divided
    by counts -- engine-identical, so a stack of layers stays
    oracle-checkable."""
    feats = features if features is not None else graph.degrees()
    n = feats.count()
    bc = F.broadcast if n <= 10_000_000 else (lambda df: df)
    src_feats = feats.select(
        F.col("id").alias("src"),
        *[F.col(c).alias(f"__f_{c}") for c in feature_cols])
    msgs = (graph.edges.select("src", "dst")
            .join(bc(src_feats), "src"))
    # decimal(27,4) = dsum's own scale: the degree features ARE
    # 4-decimal quantities, so the cast recovers them exactly on both
    # engines (any OTHER scale re-rounds and the engines disagree on
    # exact .5 ties -- shortest-repr vs exact-binary tie detection)
    agg = (msgs.groupBy(F.col("dst").alias("id"))
           .agg(F.count(F.lit(1)).alias("n_in_neighbors"),
                *[(F.sum(F.col(f"__f_{c}").cast("decimal(27,4)"))
                   .cast("double") / F.count(F.lit(1)))
                  .alias(f"nbr_mean_{c}") for c in feature_cols]))
    return (feats.select("id", *feature_cols)
            .join(agg, "id", "left")
            .select("id", *feature_cols,
                    F.coalesce("n_in_neighbors", F.lit(0))
                    .alias("n_in_neighbors"),
                    # NO final round: the decimal-exact sums convert
                    # and divide identically on both engines, while
                    # round() itself disagrees on exact .5 boundaries
                    # (shortest-repr vs exact-binary tie detection)
                    *[F.coalesce(F.col(f"nbr_mean_{c}"), F.lit(0.0))
                      .alias(f"nbr_mean_{c}") for c in feature_cols]))


def betweenness_centrality(graph: Graph, max_hops: int = 30,
                           directed: bool = True) -> DataFrame:
    """Exact betweenness centrality via shortest-path counting
    (Brandes' pair dependencies, expressed as closure joins instead of
    the sequential dependency accumulation):

    ``bc(v) = sum over (s, t), s != v != t, of
    sigma(s, v) * sigma(v, t) / sigma(s, t)`` restricted to pairs where
    ``dist(s, v) + dist(v, t) = dist(s, t)`` (i.e. v lies on a shortest
    s->t path).  All three sigma factors come from ONE multi-root BFS
    closure (:func:`_multi_root_bfs` with ``paths``); the restriction
    is the equi-join condition on distances.

    Determinism: sigma values are exact integers, the per-triple ratio
    is one IEEE double division, and the per-vertex sum goes through
    decimal(27,12) so reduction order cannot change it; final round(8).

    Scale posture: exact all-pairs betweenness is O(V * closure) join
    work -- the per-vertex closure join is for moderate vertex counts
    (the reference's country graph).  At web scale run the same plan
    over a root SAMPLE (Brandes-Pich estimation): pass ``sources`` to
    the closure and divide by the sample fraction; the join shape is
    unchanged.  Sibling of the GDS centrality family the reference's
    stack exposes next to pageRank
    (/root/reference/preprocess_upload_neo4j.py:400-447)."""
    closure = _multi_root_bfs(graph, None, max_hops, directed, paths=True)
    closure = closure.localCheckpoint()  # three consumers below
    sv = (closure.where(F.col("dist") > 0)
          .select(F.col("root").alias("s"), F.col("id").alias("v"),
                  F.col("dist").alias("d1"), F.col("npaths").alias("p1")))
    vt = (closure.where(F.col("dist") > 0)
          .select(F.col("root").alias("v2"), F.col("id").alias("t"),
                  F.col("dist").alias("d2"), F.col("npaths").alias("p2")))
    st = closure.select(F.col("root").alias("s2"), F.col("id").alias("t2"),
                        F.col("dist").alias("d"), F.col("npaths").alias("p"))
    contrib = (sv.join(vt, sv.v == vt.v2)
               .where(F.col("t") != F.col("s"))
               .join(st, (F.col("s") == F.col("s2"))
                     & (F.col("t") == F.col("t2"))
                     & (F.col("d") == F.col("d1") + F.col("d2")))
               .groupBy(F.col("v").alias("id"))
               .agg(F.sum(((F.col("p1") * F.col("p2")).cast("double")
                           / F.col("p").cast("double"))
                          .cast("decimal(27,12)"))
                    .cast("double").alias("bsum")))
    return (graph.vertices.select("id")
            .join(contrib, "id", "left")
            .select("id",
                    F.round(F.coalesce("bsum", F.lit(0.0)), 8)
                    .alias("betweenness")))


def wl_refinement(graph: Graph, iters: int = 3,
                  directed: bool = True) -> DataFrame:
    """Weisfeiler-Lehman color refinement (1-WL): iteratively relabel
    every vertex with a hash of its own color and the sorted MULTISET
    of its in-neighbors' colors.  After k rounds two vertices share a
    color iff their depth-k neighborhood trees are isomorphic -- the
    standard structural-role / graph-fingerprint primitive (WL kernels,
    GNN expressiveness baseline).

    Engine-portable hashing: colors are md5 hex strings; the neighbor
    multiset is the comma-join of the SORTED collected colors, so the
    signature is reduction-order-independent and identical in any
    engine with md5 + string sort.  Init color = md5(in_deg|out_deg).

    Scale shape per round: one edge-sized equi-join + one vertex-keyed
    sort-agg -- the same message-passing superstep as
    :func:`neighborhood_agg`, k rounds total.  Hub vertices with huge
    neighbor lists are the skew risk at web scale; cap or sketch the
    multiset (e.g. per-color counts) if a vertex's list outgrows a
    task."""
    edges = graph.edges.select("src", "dst")
    if not directed:
        edges = edges.union(graph.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")))
    edges = edges.distinct().localCheckpoint()

    outd = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outd"))
    ind = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("ind"))
    colors = (graph.vertices.select("id")
              .join(ind, "id", "left").join(outd, "id", "left")
              .select("id", F.md5(F.concat_ws(
                  "|",
                  F.coalesce("ind", F.lit(0)).cast("string"),
                  F.coalesce("outd", F.lit(0)).cast("string")))
                  .alias("color")))
    for _ in range(iters):
        nbr = (edges.join(colors, edges.src == colors.id)
               .select(F.col("dst").alias("id"),
                       F.col("color").alias("nc")))
        sig = (nbr.groupBy("id")
               .agg(F.array_join(F.array_sort(F.collect_list("nc")), ",")
                    .alias("sig")))
        colors = (colors.join(sig, "id", "left")
                  .select("id", F.md5(F.concat_ws(
                      "|", "color", F.coalesce("sig", F.lit(""))))
                      .alias("color"))
                  .localCheckpoint(eager=False))
    classes = colors.groupBy("color").agg(
        F.count(F.lit(1)).alias("class_size"))
    return (colors.join(classes, "color")
            .select("id", F.col("color").alias("wl_color"), "class_size"))


def node2vec_walks(graph: Graph, length: int = 4,
                   w_return: int = 1, w_common: int = 4,
                   w_far: int = 2) -> DataFrame:
    """node2vec-biased deterministic walks (Grover & Leskovec 2016):
    the next hop is drawn with INTEGER weights conditioned on the
    previous vertex t -- ``w_return`` for stepping back to t (1/p),
    ``w_common`` for a candidate that is also an out-neighbor of t
    (distance 1), ``w_far`` otherwise (1/q).  Integer weights make the
    cumulative-range draw exact on any engine: candidate x (in dst
    order) owns the coin interval [cum - w_x, cum); the coin is
    ``md5(walk_id:k) mod total_weight`` -- replayable, no seed state,
    the same md5-coin contract as :func:`random_walks` (which this
    generalizes: all weights equal = DeepWalk).  The first step (no
    previous vertex) is uniform.

    Scale shape per step: frontier-edges equi-join, one LEFT join
    against the edge table to mark distance-1 candidates, two windows
    over per-walk candidate sets (out-degree-sized).  Dead ends carry
    their path."""
    edges = (graph.edges.select("src", "dst").distinct()
             .localCheckpoint())
    e_common = edges.select(F.col("src").alias("prev"),
                            F.col("dst").alias("dst"),
                            F.lit(1).alias("__c"))
    walks = (graph.vertices
             .select(F.col("id").alias("walk_id"),
                     F.col("id").alias("cur"),
                     F.lit(None).cast("string").alias("prev"),
                     F.col("id").alias("path"),
                     F.lit(0).alias("n_steps")))
    w_ord = (Window.partitionBy("walk_id").orderBy("dst")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_all = Window.partitionBy("walk_id")
    for step in range(1, length + 1):
        cand = (walks.join(edges, walks.cur == edges.src)
                .join(e_common, ["prev", "dst"], "left")
                .withColumn("wt", F.when(F.col("prev").isNull(), F.lit(1))
                            .when(F.col("dst") == F.col("prev"),
                                  F.lit(w_return))
                            .when(F.col("__c").isNotNull(),
                                  F.lit(w_common))
                            .otherwise(F.lit(w_far)).cast("long"))
                .withColumn("cum", F.sum("wt").over(w_ord))
                .withColumn("total", F.sum("wt").over(w_all)))
        # mod guard: total==0 rows divert to `zeroed` below, but the
        # coin expression still evaluates on them (ANSI mod-by-zero);
        # mod max(total,1) is safe -- their pick intervals are empty
        coin = F.pmod(
            F.conv(F.substring(
                F.md5(F.concat(F.col("walk_id"), F.lit(f":{step}"))),
                1, 7), 16, 10).cast("long"),
            F.greatest(F.col("total"), F.lit(1)))
        stepped = (cand.where((F.col("wt") > 0)
                              & (coin >= F.col("cum") - F.col("wt"))
                              & (coin < F.col("cum")))
                   .select("walk_id",
                           F.col("dst").alias("cur"),
                           F.col("cur").alias("prev"),
                           F.concat("path", F.lit(">"), "dst")
                           .alias("path"),
                           (F.col("n_steps") + 1).alias("n_steps")))
        # a walk whose every candidate has weight 0 (e.g. w_return=0 at
        # a return-only vertex) stops in place, like a dead end
        zeroed = (cand.where(F.col("total") == 0)
                  .select("walk_id", "cur", "prev", "path", "n_steps")
                  .distinct())
        stuck = (walks.join(edges.select(F.col("src").alias("cur"))
                            .distinct(), "cur", "left_anti")
                 .select("walk_id", "cur", "prev", "path", "n_steps"))
        walks = (stepped.unionByName(stuck).unionByName(zeroed)
                 .localCheckpoint(eager=False))
    return walks.select("walk_id", "path",
                        F.col("cur").alias("end_id"), "n_steps")


def boruvka_mst(vertices: DataFrame, uedges: DataFrame,
                max_rounds: int = 20) -> DataFrame:
    """Minimum spanning forest by Boruvka supersteps -- THE
    log-round-parallel MST algorithm (each round every component picks
    its minimum outgoing edge; components at least halve per round, so
    a 1e9-vertex graph closes in ~30 rounds of edge-sized joins).

    ``uedges`` is the undirected edge list (a < b) with an integer
    ``w`` column of DISTINCT weights (callers rank (amount, a, b) to
    break ties -- distinct weights make the MSF unique, which is what
    lets the oracle verify via the cut/cycle property instead of
    replaying rounds).  Output: the forest edges (a, b, w).

    Per round: one component-label join over the live edges, one
    per-component MIN(struct) aggregate (map-side combinable), and a
    component-graph contraction by POINTER DOUBLING over the picked
    pseudo-forest (the classic Boruvka hooking): each component points
    at its min-edge partner, mutual pairs root at the smaller id --
    distinct weights make every hooking cycle a 2-cycle -- and
    parent-jumping closes the trees in O(log depth) supersteps.  The
    earlier design re-ran min-label :func:`connected_components` on
    the picked edges, whose superstep count is the component-graph
    DIAMETER (linear in components for chain-shaped merges); pointer
    doubling is logarithmic and runs ~half the Spark jobs per round."""
    edges = uedges.select("a", "b", "w").localCheckpoint()
    # lazy checkpoint + count: one job materializes comp AND sizes the
    # small-graph gate below (same fusion as _rank_loop's dangling)
    comp = vertices.select("id", F.col("id").alias("component")) \
        .localCheckpoint(eager=False)
    # every join in the contraction loop has a vertex- or
    # component-sized side (comp projections, the hooking/doubling
    # parent maps, the relabel table): under 10M vertices the diet
    # applies (_small_loop_mode).  AQE's per-exchange re-plans were the
    # dominant cost of this loop (~4 AQE stage jobs per round plus
    # planning gaps; see OPTIMIZATION_r12.md)
    small = comp.count() <= 10_000_000
    mst = None
    with _small_loop_mode(vertices.sparkSession, small, edges) as _b:
        def jump(parent: DataFrame) -> DataFrame:
            pj = _b(parent.select(F.col("c").alias("__jc"),
                                  F.col("p").alias("__jp")))
            p = F.coalesce("__jp", "p")
            return (parent.join(pj, parent.p == pj.__jc, "left")
                    .select("c", p.alias("p"),
                            (p != F.col("p")).cast("int").alias("__chg")))
        for _ in range(max_rounds):
            ca = _b(comp.select(F.col("id").alias("a"),
                                F.col("component").alias("__ca")))
            cb = _b(comp.select(F.col("id").alias("b"),
                                F.col("component").alias("__cb")))
            # driver-action diet (round 12, guide §1/§5: fewer jobs per
            # round): the live table is consumed exactly once -- an
            # EXPLODE emits both (c, e, p) directions in the same pass, so
            # `live` no longer needs its own checkpoint (the old shape
            # materialized live, then union'd two projections of it), and
            # the round's termination test moves onto minpick (empty ==
            # no live inter-component edge) -- two driver actions per
            # round become zero.  Map-side partial aggregation collapses
            # the exploded rows to component-sized output before the
            # shuffle, so the explode does not widen the exchange.
            live = (edges.join(ca, "a").join(cb, "b")
                    .where(F.col("__ca") != F.col("__cb")))
            pick_struct = F.struct("w", "a", "b")
            # per-component min outgoing edge, carrying the partner
            # component: min by (edge, partner) == min by edge, since each
            # (component, edge) pair has exactly one partner
            cand = (live.select(F.explode(F.array(
                        F.struct(F.col("__ca").alias("c"),
                                 pick_struct.alias("e"),
                                 F.col("__cb").alias("p")),
                        F.struct(F.col("__cb").alias("c"),
                                 pick_struct.alias("e"),
                                 F.col("__ca").alias("p")))).alias("x"))
                    .select("x.c", "x.e", "x.p"))
            minpick = (cand.groupBy("c")
                       .agg(F.min(F.struct("e", "p")).alias("m"))
                       .select("c", F.col("m.e.a").alias("a"),
                               F.col("m.e.b").alias("b"),
                               F.col("m.e.w").alias("w"),
                               F.col("m.p").alias("p"))
                       .localCheckpoint())
            if minpick.isEmpty():
                break
            picked = minpick.select("a", "b", "w").distinct()
            # no cross-round distinct/checkpoint: a picked edge's endpoints
            # merge this round, so it can never be live (or re-picked)
            # again -- mst is a union of <= max_rounds checkpointed pieces
            mst = picked if mst is None else mst.union(picked)
            # hooking: parent(c) = min-edge partner.  If c and p picked
            # each other they necessarily picked the SAME edge (each
            # other's edge is outgoing from both, so both minima coincide;
            # weights are distinct) -- root that 2-cycle at min(c, p).
            # Stays an EAGER checkpoint: an A/B of the lazy form (hooking
            # folded into doubling iteration 1) measured WORSE -- the
            # doubling join references parent twice, so laziness re-plans
            # and re-runs the hooking join's AQE exchanges once per
            # reference, costing more than the one checkpoint job saved.
            pr = minpick.select("c", "p")
            pmap = _b(pr.select(F.col("c").alias("__pc"),
                                F.col("p").alias("__pp")))
            parent = (pr.join(pmap, pr.p == pmap.__pc)
                      .select("c", F.when((F.col("__pp") == F.col("c"))
                                          & (F.col("c") < F.col("p")),
                                          F.col("c"))
                              .otherwise(F.col("p")).alias("p"))
                      .localCheckpoint())
            # pointer doubling: parent <- parent(parent) until fixpoint;
            # 64 doublings span any chain of long ids
            parent = _fixpoint("boruvka_mst", parent, jump, 64)
            relab = _b(parent.select(F.col("c").alias("component"),
                                     F.col("p").alias("__new")))
            # left join: components with no live edge keep their label
            comp = (comp.join(relab, "component", "left")
                    .select("id", F.coalesce("__new", "component")
                            .alias("component"))
                    .localCheckpoint())
        if mst is not None:
            # plan the union of distinct() pieces under the loop's confs
            mst = mst.localCheckpoint(eager=False)
    if mst is None:
        return uedges.select("a", "b", "w").limit(0)
    return mst


def maximal_independent_set(graph: Graph,
                            max_rounds: int = 100) -> DataFrame:
    """Maximal independent set by Luby-style rounds with DETERMINISTIC
    md5 priorities: an undecided vertex enters the MIS when its
    (md5(id), id) priority beats every undecided neighbor's; its
    neighbors drop out; repeat until no vertex is undecided.  The
    md5 priority plays the role of Luby's random draw -- expected
    O(log V) rounds on real graphs -- while staying replayable and
    engine-exact (at worst the global minimum enters each round, so
    |V| rounds bound termination).

    Per round: one edge-sized join against the undecided set, one
    per-vertex MIN(struct) aggregate, one anti-join.  Output:
    (id, in_mis)."""
    sym = undirected_edges(graph.edges)
    sym = (sym.union(sym.select(F.col("b").alias("a"),
                                F.col("a").alias("b")))
           .distinct().localCheckpoint())
    u = (graph.vertices.select("id", F.md5("id").alias("pri"))
         .localCheckpoint())
    mis = None
    for _ in range(max_rounds):
        if u.isEmpty():
            break
        und_dst = u.select(F.col("id").alias("b"),
                           F.col("pri").alias("__np"))
        nmin = (sym.join(und_dst, "b")
                .groupBy(F.col("a").alias("id"))
                .agg(F.min(F.struct(F.col("__np").alias("p"),
                                    F.col("b").alias("i"))).alias("nm")))
        enter = (u.join(nmin, "id", "left")
                 .where(F.col("nm").isNull()
                        | (F.struct(F.col("pri").alias("p"),
                                    F.col("id").alias("i"))
                           < F.col("nm")))
                 .select("id").localCheckpoint())
        out = (sym.join(enter.select(F.col("id").alias("a")), "a")
               .select(F.col("b").alias("id")).distinct())
        mis = enter if mis is None else mis.union(enter)
        u = (u.join(enter.union(out).distinct(), "id", "left_anti")
             .localCheckpoint())
    mis = (mis.localCheckpoint() if mis is not None
           else graph.vertices.select("id").limit(0))
    return (graph.vertices.select("id")
            .join(mis.select(F.col("id").alias("m")),
                  F.col("id") == F.col("m"), "left")
            .select("id", F.col("m").isNotNull().alias("in_mis")))


def eigenvector_centrality(graph: Graph, max_iter: int = 15) -> DataFrame:
    """Eigenvector centrality by power iteration on the RAW adjacency
    (x' = A^T x): the prestige measure where a link from a well-linked
    nation counts more -- completing the centrality family next to
    PageRank (stochastic matrix + teleport) and HITS (bipartite
    hub/authority).

    Determinism/scale contract: each superstep is one edge-sized join
    + per-vertex decimal-exact sum; the iterate is re-scaled by its
    MAX component (an order-independent reduction -- no float-sum
    normalization inside the loop), keeping values in [0, 1] with no
    overflow for any iteration count; one L2 normalization at the END
    over decimal-exact squares.  Output: (id, eigenvector) rounded
    to 8."""
    edges = graph.edges.select("src", "dst").distinct().localCheckpoint()
    x = graph.vertices.select("id", F.lit(1.0).alias("x"))
    for _ in range(max_iter):
        y = (edges.join(x.withColumnRenamed("id", "src"), "src")
             .groupBy(F.col("dst").alias("id"))
             .agg(F.sum(F.col("x").cast("decimal(27,12)"))
                  .cast("double").alias("y")))
        y = (graph.vertices.select("id")
             .join(y, "id", "left")
             .select("id", F.coalesce("y", F.lit(0.0)).alias("y")))
        m = y.agg(F.max("y").alias("m"))
        # zero-guard (ADVICE round 3): on an edgeless graph, or any
        # DAG once iterations exceed the longest path (nilpotent
        # adjacency), y collapses to all zeros -- rescaling by MAX(y)
        # would turn every vertex into NULL/NaN.  Degrade to zeros.
        x = (y.crossJoin(F.broadcast(m))
             .select("id", F.when(F.col("m") > 0,
                                  F.col("y") / F.col("m"))
                     .otherwise(F.lit(0.0)).alias("x"))
             .localCheckpoint(eager=False))
    norm = x.agg(F.sqrt(F.sum((F.col("x") * F.col("x"))
                              .cast("decimal(27,12)")).cast("double"))
                 .alias("n"))
    return (x.crossJoin(F.broadcast(norm))
            .select("id", F.when(F.col("n") > 0,
                                 F.round(F.col("x") / F.col("n"), 8))
                    .otherwise(F.lit(0.0)).alias("eigenvector")))


def k_truss(graph: Graph, k: int = 4, max_iter: int = 100) -> DataFrame:
    """k-truss decomposition: iteratively peel every edge supported by
    fewer than k-2 triangles until fixpoint -- the EDGE-cohesion
    sibling of :func:`k_core` (a k-truss is the maximal subgraph where
    every edge closes >= k-2 triangles; the standard community-core
    extractor in graph mining).

    Per round: one wedge self-join of the symmetrized edge list (the
    same bounded shape as :func:`triangle_count` -- at web scale order
    by degree so wedges enumerate from the low-degree endpoint) + one
    per-edge count + a filter; at least one edge drops per active
    round, so |E| rounds bound termination (real graphs: a handful).
    Output: every original undirected edge with ``in_truss``."""
    ue = (undirected_edges(graph.edges).select("a", "b")
          .distinct().localCheckpoint())

    def peel(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
        x = sym.select(F.col("a").alias("wa"), F.col("b").alias("wc"))
        y = sym.select(F.col("a").alias("wb"), F.col("b").alias("wc"))
        wedges = (x.join(y, "wc")
                  .where(F.col("wa") < F.col("wb"))
                  .groupBy(F.col("wa").alias("a"),
                           F.col("wb").alias("b"))
                  .agg(F.count(F.lit(1)).alias("sup")))
        return (cur.join(wedges, ["a", "b"], "left")
                .where(F.coalesce("sup", F.lit(0)) >= k - 2)
                .select("a", "b", F.lit(0).alias("__chg")))
    cur = _fixpoint("k_truss", ue, peel, max_iter, ue.count())
    return (ue.join(cur.select("a", "b",
                               F.lit(True).alias("in_truss")),
                    ["a", "b"], "left")
            .select("a", "b",
                    F.coalesce("in_truss", F.lit(False))
                    .alias("in_truss")))


def partition_modularity(ue: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity of a given vertex partition on an undirected
    graph: per community ``q_c = e_c / m - (k_c / 2m)^2`` (internal
    edge share minus the random-graph expectation); the sum over
    communities is the partition's Q -- the metric that scores any
    community detector (LPA here; Louvain et al. optimize exactly
    this).

    ``ue`` is the undirected edge list (a < b, deduped), ``labels`` is
    (id, community).  All counts are exact integers, the two
    divisions/square are single IEEE ops.  Scale shape: one edge-sized
    double label join + community-sized aggregates."""
    ue = ue.select("a", "b").localCheckpoint()
    m = ue.count()
    bi = ue.union(ue.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = bi.groupBy(F.col("a").alias("id")).agg(
        F.count(F.lit(1)).alias("k"))
    la = labels.select(F.col("id").alias("a"),
                       F.col("community").alias("__ca"))
    lb = labels.select(F.col("id").alias("b"),
                       F.col("community").alias("__cb"))
    internal = (ue.join(la, "a").join(lb, "b")
                .where(F.col("__ca") == F.col("__cb"))
                .groupBy(F.col("__ca").alias("community"))
                .agg(F.count(F.lit(1)).alias("e_c")))
    degsum = (labels.join(deg, "id", "left")
              .groupBy("community")
              .agg(F.count(F.lit(1)).alias("n_nodes"),
                   F.sum(F.coalesce("k", F.lit(0))).alias("k_c")))
    frac = F.col("k_c").cast("double") / F.lit(2.0 * m)
    return (degsum.join(internal, "community", "left")
            .select("community", "n_nodes",
                    F.coalesce("e_c", F.lit(0)).alias("internal_edges"),
                    F.col("k_c").alias("degree_sum"),
                    F.round(F.coalesce("e_c", F.lit(0)).cast("double")
                            / F.lit(float(m)) - frac * frac, 8)
                    .alias("q_contrib")))


def katz_centrality(graph: Graph, alpha: float = 0.1,
                    beta: float = 1.0, max_iter: int = 15) -> DataFrame:
    """Katz centrality: ``x = sum_k alpha^k (A^T)^k 1`` -- every walk
    into a vertex counts, damped by length (the centrality that, unlike
    eigenvector, gives isolated/low-in-degree vertices a floor via the
    constant beta term).  Iterated as ``x' = alpha A^T x + beta``,
    which converges for alpha < 1/lambda_max (out-degrees bound
    lambda; callers keep alpha small).

    Same superstep shape and determinism contract as
    :func:`eigenvector_centrality`: one edge join + decimal-exact
    per-vertex sum per iteration, scalar arithmetic in IEEE doubles;
    values stay O(beta / (1 - alpha * deg)) -- no rescale needed.
    Output: (id, katz) rounded to 8."""
    edges = graph.edges.select("src", "dst").distinct().localCheckpoint()
    x = graph.vertices.select("id", F.lit(beta).alias("x"))
    for _ in range(max_iter):
        y = (edges.join(x.withColumnRenamed("id", "src"), "src")
             .groupBy(F.col("dst").alias("id"))
             .agg(F.sum(F.col("x").cast("decimal(27,12)"))
                  .cast("double").alias("y")))
        x = (graph.vertices.select("id")
             .join(y, "id", "left")
             .select("id", (F.lit(alpha)
                            * F.coalesce("y", F.lit(0.0))
                            + F.lit(beta)).alias("x"))
             .localCheckpoint(eager=False))
    return x.select("id", F.round("x", 8).alias("katz"))


def simrank(graph: Graph, c: float = 0.8, max_iter: int = 5,
            topk: int = 3) -> DataFrame:
    """SimRank vertex similarity (Jeh & Widom 2002): two vertices are
    similar when their IN-neighbors are similar --
    ``s(a, b) = C / (|I(a)||I(b)|) * sum s(i, j)`` over in-neighbor
    pairs, ``s(a, a) = 1``.  The link-structure analog of the
    embedding-cosine operators: "similar trade profiles" without any
    feature vectors.

    Iterated on the SPARSE nonzero pair table (pairs only exist when
    their in-neighborhoods connect -- never a dense V^2 materialize
    unless the graph forces it).  Each superstep: two edge joins +
    one pair-keyed decimal-exact sum.  Output: top-``topk`` similar
    partners per vertex (a != b), score rounded to 8."""
    edges = graph.edges.select("src", "dst").distinct().localCheckpoint()
    ind = edges.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("ind"))
    diag = graph.vertices.select(F.col("id").alias("a"),
                                 F.col("id").alias("b"),
                                 F.lit(1.0).alias("s"))
    s = diag
    e1 = edges.select(F.col("src").alias("i"), F.col("dst").alias("a"))
    e2 = edges.select(F.col("src").alias("j"), F.col("dst").alias("b"))
    ia = ind.select(F.col("id").alias("a"), F.col("ind").alias("__na"))
    ib = ind.select(F.col("id").alias("b"), F.col("ind").alias("__nb"))
    for _ in range(max_iter):
        contrib = (s.withColumnRenamed("a", "i")
                   .withColumnRenamed("b", "j")
                   .join(e1, "i").join(e2, "j")
                   .groupBy("a", "b")
                   .agg(F.sum(F.col("s").cast("decimal(27,12)"))
                        .cast("double").alias("__sum")))
        offdiag = (contrib.where(F.col("a") != F.col("b"))
                   .join(F.broadcast(ia), "a")
                   .join(F.broadcast(ib), "b")
                   .select("a", "b",
                           (F.lit(c) * F.col("__sum")
                            / (F.col("__na") * F.col("__nb"))
                            .cast("double")).alias("s")))
        s = diag.unionByName(offdiag).localCheckpoint(eager=False)
    w = Window.partitionBy("a").orderBy(F.desc("s"), F.asc("b"))
    return (s.where(F.col("a") != F.col("b"))
            .withColumn("sim_rank", F.row_number().over(w))
            .where(F.col("sim_rank") <= topk)
            .select("a", "b", F.round("s", 8).alias("simrank"),
                    "sim_rank"))


def attention_agg(graph: Graph, feature_cols: list,
                  features: DataFrame | None = None,
                  score_col: str = "amount") -> DataFrame:
    """GAT-style attention aggregation: each vertex averages its
    IN-neighbors' features weighted by a SOFTMAX over edge scores --
    the attention sibling of the mean-pool :func:`neighborhood_agg`
    (one graph-attention layer as a DataFrame plan).

    Numerically-stable softmax done the engine-exact way: scores pass
    through ln, the per-vertex MAX (an order-free reduction) is
    subtracted before exp, and both the exp-sum and the weighted
    feature sums go through decimal(27,12) -- so the attention weights
    and the output are bit-identical on any engine/partitioning.
    Scale shape: one edge join + two vertex-keyed aggregates (the max
    pass and the weighted sum), features broadcast under the usual
    vertex ceiling."""
    feats = features if features is not None else graph.degrees()
    n = feats.count()
    bc = F.broadcast if n <= 10_000_000 else (lambda df: df)
    src_feats = feats.select(
        F.col("id").alias("src"),
        *[F.col(c).alias(f"__f_{c}") for c in feature_cols])
    msgs = (graph.edges.select("src", "dst", score_col)
            .join(bc(src_feats), "src")
            .withColumn("__e", F.log(F.col(score_col).cast("double"))))
    mx = (msgs.groupBy("dst")
          .agg(F.max("__e").alias("__mx")))
    # __w quantized to 1e-9 right after exp: ln/exp are the ONLY
    # non-IEEE-deterministic ops in this plan (libm differs by ~1 ulp
    # between engines; +,x,/ are exact-rounded everywhere), and w is
    # in (0,1] so the divergence is <= ~1e-15 absolute -- seven
    # orders below the rounding quantum.  Everything downstream is
    # then bit-identical on any engine at ANY scale; without this the
    # final round(4) broke at sf10, where the attention ratio's
    # ~1e11 magnitude turns a 1e-15 relative exp drift into ~1e-4
    # absolute (found by the sf10 strict sweep, round 6).
    msgs = (msgs.join(mx, "dst")
            .withColumn("__w",
                        F.round(F.exp(F.col("__e") - F.col("__mx")), 9)))
    agg = (msgs.groupBy(F.col("dst").alias("id"))
           .agg(F.sum(F.col("__w").cast("decimal(27,12)"))
                .cast("double").alias("__z"),
                *[F.sum((F.col("__w") * F.col(f"__f_{c}"))
                        .cast("decimal(27,12)")).cast("double")
                  .alias(f"__ws_{c}") for c in feature_cols],
                F.count(F.lit(1)).alias("n_in_neighbors")))
    return (feats.select("id", *feature_cols)
            .join(agg, "id", "left")
            .select("id", *feature_cols,
                    F.coalesce("n_in_neighbors", F.lit(0))
                    .alias("n_in_neighbors"),
                    # final rounding goes THROUGH an exact decimal
                    # cast: ROUND(double, 4) is engine-divergent at
                    # scale-grown magnitudes (DuckDB rounds in the
                    # x1e4-scaled double domain, whose spacing at the
                    # sf10 ratio magnitude ~1.2e15 is 0.25 -- so near
                    # half-way values disagree with exact decimal
                    # rounding ~25% of the time; two nations tripped
                    # in the sf10 strict sweep).  double -> decimal
                    # (38,8) rounds the same exact rational on both
                    # engines (no scaled-domain fuzz), then
                    # decimal-round to 4 is exact arithmetic, then
                    # back to double for a stable schema.  __w is
                    # also quantized post-exp (above), so the ratio
                    # itself is bit-identical before this.
                    *[F.round(F.coalesce(
                        F.col(f"__ws_{c}") / F.col("__z"), F.lit(0.0))
                        .cast("decimal(38,8)"), 4).cast("double")
                      .alias(f"attn_{c}") for c in feature_cols]))


def edge_betweenness(graph: Graph, max_hops: int = 30,
                     directed: bool = True) -> DataFrame:
    """Edge betweenness (Brandes pair dependencies on EDGES): for edge
    (u, v), ``sum over (s, t) of sigma(s, u) * sigma(v, t) /
    sigma(s, t)`` restricted to ``dist(s, u) + 1 + dist(v, t) =
    dist(s, t)`` -- the Girvan-Newman splitting score (remove the
    highest-betweenness edges to expose communities).  Reuses the SAME
    path-counting closure as :func:`betweenness_centrality`; s = u and
    t = v endpoints participate via the dist-0 closure rows (sigma =
    1), as the definition requires.  Same determinism contract
    (decimal-exact ratio sums, round 8) and the same landmark-sample
    posture at web scale."""
    closure = _multi_root_bfs(graph, None, max_hops, directed,
                              paths=True).localCheckpoint()
    su = closure.select(F.col("root").alias("s"), F.col("id").alias("u"),
                        F.col("dist").alias("d1"),
                        F.col("npaths").alias("p1"))
    vt = closure.select(F.col("root").alias("v2"), F.col("id").alias("t"),
                        F.col("dist").alias("d2"),
                        F.col("npaths").alias("p2"))
    st = closure.select(F.col("root").alias("s2"), F.col("id").alias("t2"),
                        F.col("dist").alias("d"), F.col("npaths").alias("p"))
    e = graph.edges.select(F.col("src").alias("u"),
                           F.col("dst").alias("v")).distinct()
    contrib = (e.join(su, "u")
               .join(vt, F.col("v") == F.col("v2"))
               .join(st, (F.col("s") == F.col("s2"))
                     & (F.col("t") == F.col("t2"))
                     & (F.col("d") == F.col("d1") + 1 + F.col("d2")))
               .groupBy("u", "v")
               .agg(F.sum(((F.col("p1") * F.col("p2")).cast("double")
                           / F.col("p").cast("double"))
                          .cast("decimal(27,12)"))
                    .cast("double").alias("bsum")))
    return (e.join(contrib, ["u", "v"], "left")
            .select(F.col("u").alias("src"), F.col("v").alias("dst"),
                    F.round(F.coalesce("bsum", F.lit(0.0)), 8)
                    .alias("edge_betweenness")))


def bridges(graph: Graph, max_hops: int = 30) -> DataFrame:
    """Bridge (cut-edge) detection on the undirected graph: edge
    (a, b) is a bridge iff a cannot reach b once the edge is removed.
    Instead of |E| sequential reachability runs, ONE batched BFS
    carries an exclusion key: the frontier is (edge_id, vertex) pairs
    and every expansion step drops the excluded edge for that key --
    the same shared-frontier trick as the multi-root closure, state
    bounded by |E| x |V-reachable|.

    Bridges are the single points of failure of a network (and the
    Girvan-Newman endgame: every inter-community route eventually
    peels down to them).  Output: (a, b, is_bridge)."""
    ue = (undirected_edges(graph.edges).select("a", "b")
          .distinct().localCheckpoint())
    eid = ue.select(F.col("a").alias("ea"), F.col("b").alias("eb"))
    sym = ue.union(ue.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint()
    # frontier per excluded edge starts at its own a-endpoint
    frontier = eid.select("ea", "eb", F.col("ea").alias("id"))

    def step(f: DataFrame, hop: int) -> DataFrame:
        return (f.join(sym, f.id == sym.a)
                # drop the excluded edge in both directions
                .where(~((F.col("id") == F.col("ea"))
                         & (F.col("b") == F.col("eb")))
                       & ~((F.col("id") == F.col("eb"))
                           & (F.col("b") == F.col("ea"))))
                .select("ea", "eb", F.col("b").alias("id"))
                .distinct())

    # small-loop gate: per-excluded-edge BFS state is bounded by
    # |E| x |V|; a truncated BFS would mark far-apart endpoints as
    # bridges, hence the driver's hop-budget warning
    small = ue.count() * graph.vertices.count() <= 10_000_000
    visited = _frontier_bfs("bridges", frontier, ["ea", "eb"], step, small,
                            sym, max_hops)
    reached = (visited.where(F.col("id") == F.col("eb"))
               .select("ea", "eb", F.lit(True).alias("__r")))
    return (ue.join(reached, (ue.a == reached.ea) & (ue.b == reached.eb),
                    "left")
            .select("a", "b", F.col("__r").isNull().alias("is_bridge")))


def greedy_coloring(graph: Graph, max_rounds: int = 100,
                    max_colors: int = 64) -> DataFrame:
    """Distance-1 graph coloring by Jones-Plassmann rounds with
    deterministic md5 priorities: each round, every uncolored vertex
    whose (md5(id), id) priority is a local MAX among uncolored
    neighbors takes the smallest color its already-colored neighbors
    don't use.  The parallel scheduling/register-allocation primitive
    (MIS is the single-round special case); expected O(log V) rounds,
    bounded by |V| (the global max colors every round).

    Per round: one edge join against the uncolored set (local-max
    test), one colored-neighbor join, and a candidate-color
    anti-join (``max_colors`` bounds the candidate explode -- any
    vertex needs at most degree+1 colors).  Output: (id, color)."""
    sym = undirected_edges(graph.edges)
    sym = (sym.union(sym.select(F.col("b").alias("a"),
                                F.col("a").alias("b")))
           .distinct().localCheckpoint())
    u = (graph.vertices.select("id", F.md5("id").alias("pri"))
         .localCheckpoint())
    colored = None
    for _ in range(max_rounds):
        if u.isEmpty():
            break
        und = u.select(F.col("id").alias("b"), F.col("pri").alias("__np"))
        nmax = (sym.join(und, "b")
                .groupBy(F.col("a").alias("id"))
                .agg(F.max(F.struct(F.col("__np").alias("p"),
                                    F.col("b").alias("i"))).alias("nm")))
        winners = (u.join(nmax, "id", "left")
                   .where(F.col("nm").isNull()
                          | (F.struct(F.col("pri").alias("p"),
                                      F.col("id").alias("i"))
                             > F.col("nm")))
                   .select("id").localCheckpoint())
        if colored is not None:
            used = (sym.join(winners.select(F.col("id").alias("a")), "a")
                    .join(colored.select(F.col("id").alias("b"),
                                         F.col("color").alias("used")),
                          "b")
                    .select(F.col("a").alias("id"), "used").distinct())
        else:
            used = winners.select(
                "id", F.lit(None).cast("int").alias("used")).limit(0)
        cand = winners.select(
            "id", F.explode(F.sequence(
                F.lit(0), F.lit(max_colors - 1))).alias("c"))
        pick = (cand.join(used, (cand.id == used.id)
                          & (F.col("c") == F.col("used")), "left_anti")
                .groupBy("id").agg(F.min("c").alias("color")))
        colored = pick if colored is None else colored.union(pick)
        colored = colored.localCheckpoint()
        u = u.join(winners, "id", "left_anti").localCheckpoint()
    if colored is None:
        return graph.vertices.select(
            "id", F.lit(0).alias("color")).limit(0)
    return colored


def voterank(graph: Graph, k: int = 5) -> DataFrame:
    """VoteRank influential-spreader selection (Zhang et al. 2016):
    every vertex votes for its neighbors with its voting ability
    (init 1.0); the top scorer is elected, loses its own voting
    ability, and weakens its neighbors' by 1/<degree>; repeat k times.
    Picks SPREAD-OUT influencers (unlike degree/PageRank top-k, which
    cluster) -- the seed-selection step of influence-maximization
    pipelines.

    Determinism: votes are decimal-exact sums of doubles that update
    by identical IEEE ops; election ties break on id.  Per round: one
    edge join + vertex-keyed sum + argmax + a neighbor-sized update.
    Output: (id, vote_round, votes)."""
    ue = (undirected_edges(graph.edges).select("a", "b")
          .distinct().localCheckpoint())
    sym = ue.union(ue.select(F.col("b").alias("a"),
                             F.col("a").alias("b"))).localCheckpoint()
    n = graph.vertices.count()
    m = ue.count()
    delta = 1.0 / (2.0 * m / n) if m else 1.0
    va = graph.vertices.select("id", F.lit(1.0).alias("va")) \
        .localCheckpoint()
    selected = None
    out = []
    for r in range(1, k + 1):
        vab = va.select(F.col("id").alias("b"), F.col("va").alias("__v"))
        score = (sym.join(vab, "b")
                 .groupBy(F.col("a").alias("id"))
                 .agg(F.sum(F.col("__v").cast("decimal(27,12)"))
                      .cast("double").alias("votes")))
        if selected is not None:
            score = score.join(selected, "id", "left_anti")
        w = Window.orderBy(F.desc("votes"), F.asc("id"))
        pick = (score.withColumn("__r", F.row_number().over(w))
                .where(F.col("__r") == 1)
                .select("id", F.lit(r).alias("vote_round"),
                        F.round("votes", 8).alias("votes"))
                .localCheckpoint())
        out.append(pick)
        nbrs = (sym.join(pick.select(F.col("id").alias("a")), "a")
                .select(F.col("b").alias("id")).distinct())
        va = (va.join(pick.select("id", F.lit(True).alias("__p")),
                      "id", "left")
              .join(nbrs.select("id", F.lit(True).alias("__n")),
                    "id", "left")
              .select("id",
                      F.when(F.col("__p").isNotNull(), F.lit(0.0))
                      .when(F.col("__n").isNotNull(),
                            F.greatest(F.lit(0.0),
                                       F.col("va") - F.lit(delta)))
                      .otherwise(F.col("va")).alias("va"))
              .localCheckpoint())
        sel_ids = pick.select("id")
        selected = sel_ids if selected is None \
            else selected.union(sel_ids).localCheckpoint()
    res = out[0]
    for p in out[1:]:
        res = res.unionByName(p)
    return res


#: unreachable sentinel for temporal arrival times (any real bucket
#: index is far below it; integer, so LEAST/comparisons stay exact)
TEMPORAL_UNREACHED = 1 << 62


def temporal_reachability(contacts: DataFrame, arrivals: DataFrame,
                          rounds: int,
                          id_col: str = "user_id") -> DataFrame:
    """Time-respecting reachability (epidemic/tracing semantics) with
    a FIXED relay budget: a contact (u, v, t) transmits iff u was
    already reached at a bucket <= t, and each superstep allows one
    more relay hop -- after ``rounds`` supersteps the arrival table
    answers "who is reached within <= rounds relays, and how early".
    Fixed-round semantics on both engines (the PageRank pattern:
    the round count is part of the operator's contract, not a
    convergence heuristic), all integer arithmetic.

    ``contacts``: (t, u, v) directed contact events (emit both
    directions for undirected contact).  ``arrivals``: (id, arr)
    initial table -- seeds carry their first-activity bucket, everyone
    else ``TEMPORAL_UNREACHED``.

    Scale shape per superstep: one join of contacts against the
    vertex-sized arrival table + one MIN aggregate on the receiver --
    edge-sized shuffles, lineage truncated per round.  The contact
    builder must cap users per bucket (a mega-bucket means m^2 pairs;
    same guard as the LSH hot-bucket cap)."""
    arr = arrivals
    for _ in range(rounds):
        relay = (contacts
                 .join(arr.select(F.col(id_col).alias("u"),
                                  F.col("arr").alias("__au")), "u")
                 .where(F.col("t") >= F.col("__au"))
                 .groupBy("v").agg(F.min("t").alias("__new")))
        arr = (arr.join(relay.select(F.col("v").alias(id_col), "__new"),
                        id_col, "left")
               .select(id_col,
                       F.least(F.col("arr"),
                               F.coalesce(F.col("__new"), F.col("arr")))
                       .alias("arr"))
               .localCheckpoint(eager=False))
    return arr


def temporal_reachability_cooccurrence(memberships: DataFrame,
                                       arrivals: DataFrame,
                                       rounds: int,
                                       id_col: str = "user_id"
                                       ) -> DataFrame:
    """:func:`temporal_reachability` specialized to CO-OCCURRENCE
    contact graphs, where the (t, u, v) pair table is the per-bucket
    all-pairs expansion of a (t, id) membership table.  Transmission
    within a bucket is all-to-all, so the relay factors through the
    bucket: a bucket is ACTIVATED iff some member was already reached
    at a time <= t, and every member of an activated bucket receives
    that bucket's time.  Per superstep that is two membership-sized
    joins (activation + relay) instead of the sum(n_b^2) pair join --
    the same quadratic->linear factoring as map-side partial
    aggregation.

    EXACT pair-semantics equivalence, including the u != v exclusion:
    the only extra candidates the bucket form admits are
    self-activations (v a reached member of its own bucket), and a
    self-activation satisfies t >= arr(v) by construction, so the
    ``LEAST(arr, candidate)`` min-relax absorbs it unchanged.
    Verified equal to the pair operator by property test
    (tests/test_properties.py).

    Scale shape per superstep: one membership join against the
    vertex-sized arrival table -> DISTINCT bucket set (bucket-count
    sized, broadcastable), joined back into memberships -> one MIN per
    receiver.  Nothing quadratic anywhere, so a hot-bucket cap on the
    membership builder becomes a purely semantic guard (flash-crowd
    buckets excluded), not a performance necessity."""
    mem = memberships.select("t", id_col)
    # materialize the stationary membership table once (it feeds two
    # joins in EVERY round) and fuse the small-loop gate's count into
    # the same job; arr is vertex-sized by construction (one row per
    # user), so mem's row count upper-bounds every per-round state
    mem = mem.localCheckpoint(eager=False)
    small = mem.count() <= 10_000_000
    arr = arrivals
    with _small_loop_mode(mem.sparkSession, small, mem) as _b:
        for _ in range(rounds):
            act = (mem.join(_b(arr.withColumnRenamed("arr", "__arr")),
                            id_col)
                   .where(F.col("t") >= F.col("__arr"))
                   .select("t").distinct())
            relay = (mem.join(_b(act), "t")
                     .groupBy(id_col).agg(F.min("t").alias("__new")))
            arr = (arr.join(_b(relay), id_col, "left")
                   .select(id_col,
                           F.least(F.col("arr"),
                                   F.coalesce(F.col("__new"), F.col("arr")))
                           .alias("arr"))
                   .localCheckpoint(eager=False))
    return arr
