"""Plan inspection & cost utilities (SURVEY.md §4; reference G4).

The reference's one physical-execution concern is the GDS memory
estimate run before PageRank (`gds.pageRank.write.estimate`,
/root/reference/preprocess_upload_neo4j.py:411-418) -- "good practice"
before committing cluster memory.  The Spark-native equivalents here:

- :func:`estimate_size_bytes` -- Catalyst's optimized-plan statistics
  (the number the broadcast planner itself uses);
- :func:`explain_str` -- capture ``df.explain`` output as a string so
  tooling/tests can assert on the physical plan;
- :func:`plan_audit` -- the 100-TB smell test: does the plan push
  filters into the scan, prune columns, broadcast the small side, and
  stay out of row-at-a-time Python?

These power tests/test_plans.py and are part of the public API: at
100 TB you audit the plan BEFORE you launch the job.
"""

from __future__ import annotations

import contextlib
import io
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    """``df.explain(mode)`` as a string (modes: simple, extended,
    codegen, cost, formatted)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def estimate_size_bytes(df: DataFrame) -> int:
    """G4 parity: pre-execution size estimate from Catalyst's
    optimized-plan statistics -- what the planner consults for
    broadcast decisions (``autoBroadcastJoinThreshold``).  Like the
    GDS estimate, it is an upper-bound heuristic, not an execution."""
    return int(df._jdf.queryExecution().optimizedPlan().stats()
               .sizeInBytes())


@dataclass
class PlanAudit:
    pushed_filters: bool
    pruned_scan: bool
    has_broadcast: bool
    has_sort_merge: bool
    python_row_udf: bool
    arrow_pandas: bool
    exchanges: int

    @property
    def jvm_only(self) -> bool:
        return not self.python_row_udf and not self.arrow_pandas


def plan_audit(df: DataFrame) -> PlanAudit:
    """One-glance physical-plan audit for scale review."""
    formatted = explain_str(df, "formatted")
    simple = explain_str(df, "simple")
    return PlanAudit(
        pushed_filters="PushedFilters: [" in formatted
                       and "PushedFilters: []" not in formatted,
        pruned_scan="ReadSchema" in formatted,
        has_broadcast="Broadcast" in simple,
        has_sort_merge="SortMergeJoin" in simple,
        python_row_udf="BatchEvalPython" in simple,
        arrow_pandas=("MapInPandas" in simple or "MapInArrow" in simple
                      or "ArrowEvalPython" in simple),
        exchanges=simple.count("Exchange "),
    )


def partition_histogram(df: DataFrame) -> list[int]:
    """Rows per partition -- the skew diagnostic.  A healthy 100-TB
    stage has a flat histogram; one giant bar = a hot key that needs
    salting (`relational.salted_join`) or AQE skew split.  Cost: one
    pass counting per-partition (no data moved to the driver beyond
    the counts)."""
    counts = (df.withColumn("__pid", F.spark_partition_id())
              .groupBy("__pid").count().collect())
    by_pid = {r["__pid"]: r["count"] for r in counts}
    return [by_pid.get(i, 0) for i in range(max(by_pid) + 1)] \
        if by_pid else []
