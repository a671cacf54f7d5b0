"""Flagship query: the reference README's headline result -- "top
countries by PageRank with their strongest trade partner"
(/root/reference/README.md:17-26, produced there via Neo4j browser
Cypher + GDS) -- re-expressed on the driver's testdata trade graph.

Pipeline: build nation->nation trade edges from the fact tables, run
20-iteration damping-0.85 PageRank (unweighted, matching the
reference's actual GDS invocation), attach each nation's #1 export
partner by traded amount (W1 rank + filter rank=1), order by rank
descending.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.graph import build_trade_graph, pagerank
from .session import scoped_build


@scoped_build
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hold: the edge table feeds BOTH the rank loop (which checkpoints
    # its own share-normalized copy during construction) and the
    # top-partner window at action time -- lazily that is two
    # sequential full builds with no chance to overlap
    g = build_trade_graph(spark, sf_dir).hold()
    ranks = pagerank(g, damping=0.85, max_iter=20, weighted=False)

    w = Window.partitionBy("src").orderBy(F.desc("amount"), F.asc("dst"))
    top_partner = (g.edges
                   .withColumn("__rn", F.row_number().over(w))
                   .where(F.col("__rn") == 1)
                   .select(F.col("src").alias("id"),
                           F.col("dst").alias("top_export_partner"),
                           F.round("amount", 2).alias("partner_amount")))

    return (ranks
            .join(F.broadcast(top_partner), "id", "left")
            .select(F.col("id").alias("nation"),
                    F.round("pagerank", 8).alias("pagerank"),
                    "top_export_partner", "partner_amount")
            .orderBy(F.desc("pagerank"), F.asc("nation")))
