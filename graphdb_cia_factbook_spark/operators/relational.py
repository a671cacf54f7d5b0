"""Relational operators (SURVEY.md §2.2-2.7).

Each function is a small composable transformation over DataFrames --
the Spark-first re-expression of the reference's pandas calls.  All of
them stay inside Catalyst (no Python UDFs) so predicate pushdown,
column pruning, broadcast selection and whole-stage codegen apply
unchanged at 100 TB.

Determinism note: pandas ``drop_duplicates(keep="first")`` depends on
input order; Spark has no input order, so every keep-first operator
here takes an explicit total order (the reference itself adds tiebreak
keys when it matters, preprocess_upload_neo4j.py:181).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Aggregation-determinism helpers
# ---------------------------------------------------------------------------

def dsum(col, scale: int = 4) -> Column:
    """Order-independent sum of a double column.

    Double addition is not associative; at 32 shuffle partitions
    (let alone 1000 executors) the reduction order is nondeterministic,
    so ``SUM(double)`` differs run-to-run in the last ulps.  Casting
    each value to an exact decimal first makes the sum associative and
    bit-stable across engines and cluster sizes -- required for the
    DuckDB oracle hash-match and good hygiene for any reproducible
    pipeline.  Result is cast back to double.

    Cross-engine ceiling (round-9 agg_winsorized lesson): the final
    decimal->double cast is correctly rounded on Spark (BigDecimal)
    but goes through int128 on DuckDB, so once the SCALED sum
    (``sum * 10^scale``) exceeds 2^53 the two engines can land one
    ulp apart.  Consumers whose sums reach that magnitude should
    round the result (or lower ``scale``) on both sides.
    """
    c = col if isinstance(col, Column) else F.col(col)
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double")


def davg(col, scale: int = 4) -> Column:
    """Order-independent mean built from the exact decimal sum."""
    c = col if isinstance(col, Column) else F.col(col)
    return (F.sum(c.cast(f"decimal(27,{scale})")).cast("double")
            / F.count(c))


# ---------------------------------------------------------------------------
# P: projections / filters
# ---------------------------------------------------------------------------

def filter_in_not_skipped(df: DataFrame, col: str, allowed: Sequence[str],
                          skip: Sequence[str]) -> DataFrame:
    """P1: membership + skip-list predicate (link filter,
    scrape_cia.py:53-55 with skip list :298-302)."""
    return df.where(F.col(col).isin(list(allowed))
                    & ~F.col(col).isin(list(skip)))


def filter_rlike(df: DataFrame, col: str, pattern: str) -> DataFrame:
    """P2: regex row filter (`\\(\\d{4}.+\\)` gate, scrape_cia.py:60)."""
    return df.where(F.col(col).rlike(pattern))


def masked_update(df: DataFrame, col: str, cond: Column,
                  value: Column) -> DataFrame:
    """P8: conditional update -- pandas ``df.loc[mask, col] = f(...)``
    (scrape_cia.py:66-67, 73-74) as a ``when/otherwise`` projection."""
    return df.withColumn(col, F.when(cond, value).otherwise(F.col(col)))


def canonicalize(df: DataFrame, col: str,
                 fixes: Mapping[str, str]) -> DataFrame:
    """J6: country-name canonicalization ("Korea, South" -> "South
    Korea", scrape_cia.py:305-309).  A small ``when`` chain keeps it in
    codegen; for a large fixes table use a broadcast join instead."""
    expr = F.col(col)
    out = None
    for raw, fixed in fixes.items():
        out = (F.when(expr == raw, F.lit(fixed)) if out is None
               else out.when(expr == raw, F.lit(fixed)))
    return df.withColumn(col, out.otherwise(expr) if out is not None else expr)


# ---------------------------------------------------------------------------
# A/W: keep-first dedup family (the reference's workhorse)
# ---------------------------------------------------------------------------

def latest_per_key(df: DataFrame, keys: Sequence[str],
                   order_by: Sequence[Column]) -> DataFrame:
    """A1/W3: latest-row-per-key argmax dedup -- the reference's
    ``sort_values(...).drop_duplicates(keys, keep="first")`` used 7x
    (preprocess_upload_neo4j.py:139-140, 159-160, 167-168, 181-182).

    One window shuffle on ``keys``; at scale this is a single hash
    exchange and AQE splits skewed keys.  ``order_by`` must be a total
    order for determinism.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1).drop("__rn"))


def group_collect_sorted(df: DataFrame, key: str, value: str,
                         alias: str) -> DataFrame:
    """A4: group-collect set->list (sub-goods per mapped good,
    preprocess_upload_neo4j.py:204-208).  ``array_sort`` makes the list
    order-insensitive for comparison."""
    return df.groupBy(key).agg(
        F.array_sort(F.collect_set(value)).alias(alias))


def rank_in_group(df: DataFrame, partition: Sequence[str],
                  order_by: Sequence[Column], alias: str) -> DataFrame:
    """W1: grouped rank, pandas ``rank("min", ascending=False)`` ==
    SQL ``RANK()`` (export/import_trade_rank,
    preprocess_upload_neo4j.py:184-185)."""
    w = Window.partitionBy(*partition).orderBy(*order_by)
    return df.withColumn(alias, F.rank().over(w))


# ---------------------------------------------------------------------------
# J: join family
# ---------------------------------------------------------------------------

def left_broadcast_join(df: DataFrame, dim: DataFrame,
                        on, how: str = "left") -> DataFrame:
    """J1-J3/J5: left equi-join with an explicitly broadcast dimension.
    Every reference join is dimension-sized on the right
    (preprocess_upload_neo4j.py:121-122, 128-144, 156-157); broadcasting
    removes the shuffle of the fact side entirely -- at 100 TB that is
    the only viable plan for dim joins."""
    return df.join(F.broadcast(dim), on, how)


# ---------------------------------------------------------------------------
# U/O: set ops & sorts
# ---------------------------------------------------------------------------

def union_tagged(dfs: Mapping[str, DataFrame], tag_col: str) -> DataFrame:
    """U1: ``pd.concat`` of differently-sourced frames with a role tag
    (exports/imports merge, preprocess_upload_neo4j.py:176).  UnionByName
    tolerates column-order drift between sources."""
    out = None
    for tag, df in dfs.items():
        tagged = df.withColumn(tag_col, F.lit(tag))
        out = tagged if out is None else out.unionByName(
            tagged, allowMissingColumns=True)
    return out


def multisort(df: DataFrame, order_by: Sequence[Column],
              limit: int | None = None) -> DataFrame:
    """O1-O3: multi-key mixed-direction sort (+ optional top-k limit).
    Spark implements global sort as range-partitioned sort (sampled
    boundaries) -- scales linearly; ``limit`` after ``orderBy`` becomes
    TakeOrderedAndProject (per-partition heap + driver merge), never a
    full global sort."""
    out = df.orderBy(*order_by)
    return out.limit(limit) if limit is not None else out


# ---------------------------------------------------------------------------
# EXT joins: as-of, range, salted-skew (SURVEY.md §2.3 EXT row)
# ---------------------------------------------------------------------------

def asof_join(left: DataFrame, right: DataFrame, key: str, ts_col: str,
              payload_cols: Sequence[str],
              prefix: str = "asof_") -> DataFrame:
    """As-of join: for each left row, the payload of the latest right
    row with the same key and right.ts <= left.ts (equal timestamps
    match).

    Scalable plan (the union trick): instead of a per-row range probe
    (O(L*R) nested loop), tag the two sides, union them, and carry the
    last non-null right payload forward with one ordered window per
    key -- a SINGLE shuffle on the key, linear scan per partition.
    This is how you as-of-join two 100-TB streams.

    Determinism: the right side is first deduped to one row per
    (key, ts) -- greatest payload wins via the caller-visible rule
    "max by remaining columns in ``payload_cols`` order" -- so ties at
    identical timestamps cannot flip between runs or engines.
    """
    r = latest_per_key(right.select(key, ts_col, *payload_cols),
                       [key, ts_col],
                       [F.desc(c) for c in payload_cols])
    lhs = left.withColumn("__side", F.lit(1))
    rhs = r.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in left.columns if c not in (key, ts_col)],
        F.col(key), F.col(ts_col),
        *[F.col(c).alias(f"{prefix}{c}") for c in payload_cols],
    ).withColumn("__side", F.lit(0))
    unioned = lhs.select(
        *left.columns, "__side",
        *[F.lit(None).cast(r.schema[c].dataType).alias(f"{prefix}{c}")
          for c in payload_cols]
    ).unionByName(rhs, allowMissingColumns=False)
    # right rows sort before left rows at equal ts => "<=" semantics
    w = (Window.partitionBy(key).orderBy(ts_col, "__side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    out = unioned.select(
        *left.columns, "__side",
        *[F.last(f"{prefix}{c}", ignorenulls=True).over(w)
          .alias(f"{prefix}{c}") for c in payload_cols])
    return out.where(F.col("__side") == 1).drop("__side")


def range_join(fact: DataFrame, bands: DataFrame, value_col: str,
               lo_col: str = "lo", hi_col: str = "hi") -> DataFrame:
    """Range join: fact.value in [lo, hi) against a (small) band
    dimension.  Broadcast the bands so the non-equi predicate runs as a
    BroadcastNestedLoopJoin -- each fact partition scans the handful of
    bands; never a shuffle of the fact table.  (For two LARGE range
    sides, pre-bucket both to equi-join granularity first.)"""
    cond = ((F.col(value_col) >= F.col(lo_col))
            & (F.col(value_col) < F.col(hi_col)))
    return fact.join(F.broadcast(bands), cond, "left")


def salted_join(fact: DataFrame, dim: DataFrame, key: str,
                salt: int = 8) -> DataFrame:
    """Skew-beating equi-join: a hot key (the China/US hub problem)
    lands every fact row in one reducer under a plain shuffle join.
    Salting splits each key into ``salt`` sub-keys -- the fact side
    picks one pseudo-randomly-but-deterministically (hash of all
    columns), the dim side replicates to all -- restoring parallelism
    at the cost of a ``salt``-times dim replication.  Result is
    row-identical to the unsalted join.  (AQE's skew-join split solves
    the same problem for sort-merge joins; explicit salting is the
    portable form and also fixes skewed groupBys.)"""
    fact_s = fact.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(c) for c in fact.columns]),
                         F.lit(salt)))
    dim_s = dim.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    return fact_s.join(dim_s, [key, "__salt"]).drop("__salt")


def scd2_intervals(changes: DataFrame, key_col: str, attr_cols: list,
                   ts_col: str = "ts",
                   tiebreak_col: str | None = None) -> DataFrame:
    """Build a slowly-changing-dimension (SCD type 2) history from a
    change stream: each change row opens a validity interval
    ``[valid_from, valid_to)`` closed by the key's NEXT change
    (``lead`` over the per-key timeline); the last interval stays open
    (NULL ``valid_to``, ``is_current`` true).

    The reference keeps only latest-wins snapshots (A1 argmax dedup,
    preprocess_upload_neo4j.py:139-140); SCD2 is the lakehouse-native
    generalization that keeps every version queryable as-of any time
    (pairs with :func:`asof_join` for time-travel lookups).

    Determinism: the timeline orders by (ts, tiebreak) -- pass a
    unique ``tiebreak_col`` when timestamps can collide.  Scale shape:
    ONE window over data hash-partitioned by the dimension key; no
    join, no second pass; 100 TB of change rows shuffle once."""
    order = [F.asc(ts_col)] + \
        ([F.asc(tiebreak_col)] if tiebreak_col else [])
    w = Window.partitionBy(key_col).orderBy(*order)
    nxt = F.lead(ts_col).over(w)
    return (changes
            .select(key_col, ts_col,
                    *(attr_cols if isinstance(attr_cols, list)
                      else [attr_cols]),
                    *([tiebreak_col] if tiebreak_col else []))
            .withColumn("valid_from", F.col(ts_col))
            .withColumn("valid_to", nxt)
            .withColumn("is_current", nxt.isNull())
            .drop(ts_col))


def grouped_weighted_median(df: DataFrame, group_col: str,
                            value_col: str, weight_col: str) -> DataFrame:
    """Weighted median per group via ``applyInPandas`` -- the
    engine's UDAF surface (SURVEY.md §2.11): Arrow-batched, grouped,
    vectorized pandas; never row-at-a-time Python.

    Definition (lower weighted median -- exact, no interpolation): the
    smallest value v whose cumulative weight over the value-ascending
    order reaches half the group's total weight.  Value ties share one
    v, so the answer does not depend on tie order; the cumulative sum
    is sequential over the same ordering on every engine, making the
    crossing point bit-stable.

    Scale shape: one hash shuffle on the group key, then each group
    sorts locally inside its Arrow batch.  Groups must fit in executor
    memory -- the standard applyInPandas contract; for heavy-hitter
    groups pre-aggregate (value, sum(weight)) pairs first, which this
    implementation does NOT need for dimension-sized groups."""
    import pandas as pd

    out_schema = (f"{group_col} string, wmedian double, "
                  f"total_weight double, n long")

    def median_of(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(value_col, kind="mergesort")
        cum = pdf[weight_col].cumsum()
        total = float(cum.iloc[-1])
        v = float(pdf.loc[cum >= total / 2, value_col].iloc[0])
        return pd.DataFrame({group_col: [pdf[group_col].iloc[0]],
                             "wmedian": [v],
                             "total_weight": [total],
                             "n": [len(pdf)]})

    return (df.select(group_col, value_col, weight_col)
            .groupBy(group_col).applyInPandas(median_of, out_schema))


def aggregate_state(df: DataFrame, keys: Sequence[str],
                    sum_cols: Sequence[str], scale: int = 4) -> DataFrame:
    """Build mergeable aggregation state for incremental materialized-
    view maintenance: per key, a row count and exact DECIMAL sums of
    ``sum_cols``.  Decimal (not double) state is what makes the merge
    ASSOCIATIVE -- refreshing in any batch order, on any engine, yields
    the bit-identical view (the dsum rationale, persisted)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [F.sum(F.col(c).cast(f"decimal(27,{scale})"))
             .alias(f"sum_{c}") for c in sum_cols]
    return df.groupBy(*[F.col(k) for k in keys]).agg(*aggs)


def merge_aggregate_state(keys: Sequence[str], *states: DataFrame) -> DataFrame:
    """Merge aggregation states (incremental view refresh): the new
    view = old state (+) delta state, one union + one re-aggregate
    over state-sized (not fact-sized) inputs.  This is the 100-TB
    refresh pattern: a daily delta folds into a key-sized summary
    without rescanning history; counts add, decimal sums add
    exactly."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    sums = [c for c in out.columns if c.startswith("sum_")]
    return (out.groupBy(*[F.col(k) for k in keys])
            .agg(F.sum("n_rows").alias("n_rows"),
                 *[F.sum(c).alias(c) for c in sums]))


def ancestor_closure(parents: DataFrame, node_col: str = "node",
                     parent_col: str = "parent",
                     max_rounds: int = 20) -> DataFrame:
    """Transitive ancestor closure of a parent-pointer hierarchy by
    POINTER DOUBLING: each round composes the closure with itself, so
    round k covers ancestor paths up to length 2^k -- log(depth)
    supersteps instead of depth sequential self-joins (a 30-level BOM
    closes in 5 rounds; the pattern that makes recursive-CTE work
    feasible on a cluster).  Converges when a round adds no rows.

    Output: (node, anc, dist) with the MIN path length per pair (on a
    tree paths are unique; min makes DAGs well-defined).  Scale shape:
    each round is one closure self-join + one (node, anc) min-agg;
    closure size is nodes x depth."""
    clo = (parents.select(F.col(node_col).alias("node"),
                          F.col(parent_col).alias("anc"),
                          F.lit(1).alias("dist"))
           .distinct().localCheckpoint())
    n_prev = clo.count()
    # small-loop diet (round 12, see graph._small_loop_mode): the
    # closure is bounded by nodes x depth; when its current size is
    # broadcastable, hint the self-join's build side explicitly, drop
    # AQE's per-exchange re-plan, and match the reduce width to the
    # checkpointed closure.  MIN(int) is reduction-order-exact at any
    # width.  Gate re-checked per round on the count the fixpoint test
    # already pays for -- a closure that outgrows the gate falls back
    # to the AQE shape mid-loop.
    from .graph import _small_loop_mode
    for _ in range(max_rounds):
        with _small_loop_mode(clo.sparkSession, n_prev <= 10_000_000,
                              clo) as _b:
            a, b = clo.alias("a"), _b(clo.alias("b"))
            nxt = (a.join(b, F.col("a.anc") == F.col("b.node"))
                   .select(F.col("a.node").alias("node"),
                           F.col("b.anc").alias("anc"),
                           (F.col("a.dist") + F.col("b.dist"))
                           .alias("dist")))
            # lazy checkpoint + count: the fixpoint count materializes
            # the round's checkpoint in the SAME job (eager paid two)
            merged = (clo.union(nxt)
                      .groupBy("node", "anc")
                      .agg(F.min("dist").alias("dist"))
                      .localCheckpoint(eager=False))
            n_merged = merged.count()
        if n_merged == n_prev:
            return merged
        clo, n_prev = merged, n_merged
    return clo
