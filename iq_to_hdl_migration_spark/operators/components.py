"""Connected components over candidate-pair edges — the step that
turns near-duplicate PAIRS (MinHash-LSH / SimHash output) into
duplicate CLUSTERS, so a canonical representative can be kept per
cluster.

Algorithm: iterative min-label propagation (the data-scale analog of
the reference's transitive-closure worklist, migration.py:684-698 /
SURVEY A5). Each vertex starts labeled with itself; every round each
vertex adopts the minimum label among itself and its neighbors; stop
when no label changes. Rounds needed = graph diameter (near-dup
clusters are tiny and dense, so 2-4 rounds in practice); each round is
one self-join shuffle on vertex id.

`localCheckpoint` after each round cuts the lineage so the plan
doesn't grow exponentially across iterations — the standard Spark
iterative-algorithm pattern.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 20) -> DataFrame:
    """Cluster assignment from an edge list.

    Returns DataFrame[id, component] where component = min vertex id
    reachable from `id`. Vertices = every id appearing in any edge.
    """
    edges = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .where(F.col("u").isNotNull() & F.col("v").isNotNull())
             .distinct())
    # undirected: both directions once
    sym = edges.union(edges.select(F.col("v").alias("u"),
                                   F.col("u").alias("v"))).distinct() \
        .localCheckpoint(eager=True)

    labels = (sym.select(F.col("u").alias("id")).distinct()
              .withColumn("component", F.col("id"))
              .localCheckpoint(eager=True))

    for _ in range(max_iter):
        # neighbor minimum: for each vertex u, min(label(v)) over edges
        neigh = (sym.join(labels.withColumnRenamed("id", "v"), "v")
                 .groupBy("u").agg(F.min("component").alias("n_min"))
                 .withColumnRenamed("u", "id"))
        upd = F.least("component", F.coalesce("n_min", "component"))
        # the changed flag rides inside the checkpointed frame, so the
        # convergence probe below is a scan of materialized blocks —
        # not a second labels-vs-labels join job per iteration
        new_labels = (labels.join(neigh, "id", "left")
                      .select("id", upd.alias("component"),
                              (upd != F.col("component")).alias("chg"))
                      .localCheckpoint(eager=True))
        changed = new_labels.where("chg").limit(1).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    return labels
