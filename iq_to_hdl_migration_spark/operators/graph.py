"""Distributed PageRank over an edge-list DataFrame — the iterative
join/aggregate pattern (same family as the transitive-closure A5 and
connected-components operators, reference has nothing comparable) —
plus synchronous label propagation.

PageRank is integer fixed point: ranks live in integer units of 2^-40
and damping is the rational 17/20, so every iteration is exact BIGINT
arithmetic — floor division only ever sheds deterministic dust, which
the dangling-mass term absorbs. A 10-iteration run is therefore
bit-identical on ANY engine that has 64-bit integers, which is what
lets the registry carry a full DuckDB value-hash oracle for an
ITERATIVE algorithm (float sums would be partition-order-dependent).
Each iteration is one join (ranks x edges on src) + one groupBy(dst):
both shuffle on node id, so a cluster co-partitions them and the
per-iteration cost is linear in |edges|. Dangling nodes' mass is
redistributed uniformly (the standard correction).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

PR_SCALE = 1 << 40
PR_DAMP_NUM = 17
PR_DAMP_DEN = 20


def _fixedpoint_prep(edges: DataFrame, src: str, dst: str,
                     weight: str) -> tuple[DataFrame, int, DataFrame]:
    """Shared setup for the integer-fixpoint family: normalized edge
    table with out-weights, the cached node spine, and |V|."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                     F.col(weight).cast("bigint").alias("w"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct().cache())
    n = nodes.count()
    e_out = (e.join(e.groupBy("src").agg(F.sum("w").alias("out_w")),
                    "src").cache())
    return nodes, n, e_out


def _fixedpoint_step(nodes: DataFrame, n: int, e_out: DataFrame,
                     ranks: DataFrame) -> DataFrame:
    """ONE exact-integer PageRank iteration (contrib join, the single
    driver round-trip for both fixed-point scalars, dangling-share
    math, new-rank projection) — the body of
    `pagerank_fixedpoint_trajectory`, so the convergence audit over
    that trajectory can never desync from the fixpoint it audits.

    Round-14 re-plan (guide §1.2/§5): contrib's EAGER localCheckpoint
    (its own Spark job per iteration) became a LAZY .cache() — the
    single scalar collect below materializes the cache in the same
    job it reads the two integers from, so an iteration costs one
    driver round-trip and one job instead of two. (An in-plan
    broadcast stitch of the scalars was tried first and measured
    SLOWER: under AQE every BroadcastExchange is its own job — 9.2 s
    vs 7.3 s baseline for the 10-iteration fixpoint.) The returned
    ranks frame is a shallow plan over the cached contrib; the
    trajectory builder localCheckpoints each iterate so consumers
    never re-derive it."""
    base_q = ((PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE) // (PR_DAMP_DEN * n)
    contrib = (
        ranks.join(e_out, ranks["node"] == e_out["src"])
        .select("dst", F.expr("(q * w) div out_w").alias("cc"))
        .groupBy("dst").agg(F.sum("cc").alias("c"))
    ).cache()
    # both fixed-point scalars in ONE driver round-trip: union the
    # two frames tagged, conditional-sum, single collect (also what
    # fills the contrib cache — identical integer values)
    tot = (ranks.select(F.col("q").alias("x"),
                        F.lit(True).alias("is_rank"))
           .unionAll(contrib.select(F.col("c").alias("x"),
                                    F.lit(False).alias("is_rank")))
           .agg(F.sum(F.when(F.col("is_rank"), F.col("x")))
                .alias("prev_total"),
                F.sum(F.when(~F.col("is_rank"), F.col("x")))
                .alias("s"))
           .collect()[0])
    prev_total, s = tot["prev_total"], tot["s"] or 0
    dangling_share = (prev_total - s) // n
    return (
        nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
        .select("node",
                (F.lit(base_q)
                 + F.expr(f"({PR_DAMP_NUM} * (coalesce(c, 0L)"
                          f" + {dangling_share}L))"
                          f" div {PR_DAMP_DEN}")).alias("q"))
    )


def pagerank_fixedpoint_trajectory(edges: DataFrame, iters: int = 10,
                                   src: str = "src", dst: str = "dst",
                                   weight: str = "weight"
                                   ) -> list[DataFrame]:
    """The full iterate history [ranks_0 .. ranks_iters] of the
    integer fixpoint, each a MATERIALIZED (node, q BIGINT) table.
    This is the STORED structure a production ranking deployment
    maintains (scores are batch-computed and served; the iterate
    history is what the convergence audit is defined over) —
    query-layer consumers memoize it the same way as the LPA label
    table. Each iterate is localCheckpointed (guide §5): a consumer
    that touches iterate k must not re-derive the nodes⋈contrib join
    behind it — the audit reads every iterate TWICE (as k and k-1),
    which un-materialized cost ~20 re-derivations per report."""
    nodes, n, e_out = _fixedpoint_prep(edges, src, dst, weight)
    ranks = (nodes.select("node", F.lit(PR_SCALE // n).alias("q"))
             .localCheckpoint())
    traj = [ranks]
    for _ in range(iters):
        ranks = _fixedpoint_step(nodes, n, e_out,
                                 ranks).localCheckpoint()
        traj.append(ranks)
    return traj


def pagerank_convergence_from_trajectory(traj: list[DataFrame]
                                         ) -> DataFrame:
    """Per-iteration exact L1 / max |Δrank_q| between consecutive
    iterates of a fixpoint trajectory, computed JOIN-FREE: melt the
    iterate tables into one (iteration, node, q) stream, lag-window
    per node, aggregate per iteration. One node-keyed exchange + one
    11-row exchange for the whole audit, versus the former shape of
    10 consecutive-iterate joins (each its own AQE stage cascade —
    measured 13.1 s / 31 jobs at sf0.1; this is a single job). The
    per-node lag sees exactly the consecutive pair the join saw, so
    every BIGINT delta is identical. At 100 TB the melted stream is
    (iters+1)·|V| narrow rows hash-partitioned by node — constant
    per-key state, no driver barrier."""
    from pyspark.sql import Window

    melted = None
    for k, df in enumerate(traj):
        part = df.select(F.lit(k).cast("int").alias("iteration"),
                         "node", "q")
        melted = part if melted is None else melted.unionByName(part)
    w = Window.partitionBy("node").orderBy("iteration")
    return (melted.withColumn("prev_q", F.lag("q").over(w))
            .where(F.col("iteration") >= 1)
            .select("iteration",
                    F.abs(F.col("q") - F.col("prev_q")).alias("dq"))
            .groupBy("iteration")
            .agg(F.sum("dq").cast("bigint").alias("l1_delta_q"),
                 F.max("dq").cast("bigint").alias("max_delta_q"))
            .withColumn("l1_delta",
                        F.col("l1_delta_q").cast("double")
                        / F.lit(float(PR_SCALE))))


def label_propagation(edges: DataFrame, n_iter: int = 3,
                      src: str = "u", dst: str = "v",
                      canonical: bool = False) -> DataFrame:
    """Synchronous label propagation (community detection): each round
    every node adopts its neighbors' most frequent label, ties broken
    by the smaller label — fully deterministic, unlike the classic
    async/random-tie formulation, so the result is oracle-checkable.
    One join + one grouped vote + one rank per round, all shuffling on
    the node key; labels start as the node ids.

    `canonical=True` declares the input already deduplicated with
    src < dst on every row (the memoized co-purchase edge table's
    contract) — then the union with the reversed copy cannot collide
    and BOTH full-edge distinct shuffles are skipped.

    Returns DataFrame[node, label] after `n_iter` rounds."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u").isNotNull() & F.col("v").isNotNull()))
    if not canonical:
        e = e.distinct()
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    if not canonical:
        sym = sym.distinct()
    sym = sym.localCheckpoint(eager=True)
    labels = (sym.select(F.col("u").alias("node")).distinct()
              .withColumn("label", F.col("node"))
              .localCheckpoint(eager=True))
    for _ in range(n_iter):
        votes = (sym.join(labels.select(F.col("node").alias("v"),
                                        F.col("label").alias("lab")), "v")
                 .groupBy("u", "lab").agg(F.count(F.lit(1)).alias("c")))
        # adopt = argmax (c, -lab): most-frequent label, min-label tie
        # — max_by over a struct keeps it ONE hash aggregate instead
        # of a sort-window per round (same deterministic result)
        labels = (votes.groupBy("u")
                  .agg(F.max_by("lab", F.struct(
                      F.col("c"), (-F.col("lab")).alias("nl")))
                      .alias("label"))
                  .select(F.col("u").alias("node"), "label")
                  .localCheckpoint(eager=True))
    return labels
