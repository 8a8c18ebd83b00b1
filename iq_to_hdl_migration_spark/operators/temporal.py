"""Temporal join operators Spark lacks as built-ins, expressed as
shuffle-efficient compositions of DataFrame ops (never a broadcast
nested-loop / cartesian inequality join, which dies at 100 TB):

* as-of join — for each probe row, the most recent reference row at or
  before the probe timestamp, per key.  Implemented as the classic
  distributed formulation: UNION both sides with a side marker, one
  shuffle on the key, and a running `last(..., ignorenulls=True)`
  window.  Cost = one shuffle + one in-partition sort, linear in
  |probe| + |ref|; contrast with the naive `probe JOIN ref ON key AND
  ref.ts <= probe.ts` + groupBy-max, which is O(|probe|·|ref|) per key.

* binned range join — join a fact "point" column into an intervals
  table by first exploding each interval into fixed-width bins and
  equi-joining on the bin id, then post-filtering the exact bounds.
  Turns an inequality join (BNLJ in Spark) into a hash/sort-merge
  equi-join that scales to arbitrarily large fact sides; interval side
  grows only by (interval_width / bin_width) replication.

The reference system has no temporal joins (SURVEY §2.10 absence
list); these are part of the LLM-training-pipeline operator set the
brief requires (event attribution, time/value-range enrichment).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def asof_join(
    probe: DataFrame,
    ref: DataFrame,
    on: str,
    ts: str = "ts",
    ref_prefix: str = "ref_",
) -> DataFrame:
    """Left as-of join: every `probe` row, plus the columns of the most
    recent `ref` row with the same `on` key and `ref.ts <= probe.ts`
    (NULLs when no such row).

    Both inputs must be unique on (on, ts) for deterministic output.
    Returns probe columns unchanged; ref columns renamed `ref_<col>`.
    """
    ref_cols = [c for c in ref.columns if c not in (on, ts)]
    probe_cols = probe.columns

    # side=0 sorts reference rows before probe rows at equal ts, so a
    # reference row stamped exactly at the probe ts is visible to it.
    ref_tagged = ref.select(
        F.col(on),
        F.col(ts),
        F.lit(0).alias("_side"),
        F.col(ts).alias(f"{ref_prefix}{ts}"),
        *[F.col(c).alias(f"{ref_prefix}{c}") for c in ref_cols],
        *[F.lit(None).cast(probe.schema[c].dataType).alias(f"_p_{c}")
          for c in probe_cols if c not in (on, ts)],
    )
    probe_tagged = probe.select(
        F.col(on),
        F.col(ts),
        F.lit(1).alias("_side"),
        F.lit(None).cast(ref.schema[ts].dataType).alias(f"{ref_prefix}{ts}"),
        *[F.lit(None).cast(ref.schema[c].dataType).alias(f"{ref_prefix}{c}")
          for c in ref_cols],
        *[F.col(c).alias(f"_p_{c}") for c in probe_cols if c not in (on, ts)],
    )

    unioned = ref_tagged.unionByName(probe_tagged)
    w = (
        Window.partitionBy(on)
        .orderBy(ts, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.select(
        on, ts, "_side",
        *[F.last(F.col(f"{ref_prefix}{c}"), ignorenulls=True).over(w)
          .alias(f"{ref_prefix}{c}") for c in [ts, *ref_cols]],
        *[F.col(f"_p_{c}") for c in probe_cols if c not in (on, ts)],
    )
    return filled.filter(F.col("_side") == 1).select(
        *[F.col(f"_p_{c}").alias(c) if c not in (on, ts) else F.col(c)
          for c in probe_cols],
        *[F.col(f"{ref_prefix}{c}") for c in [ts, *ref_cols]],
    )


def bin_range_join(
    fact: DataFrame,
    ranges: DataFrame,
    point: str | Column,
    lo: str = "lo",
    hi: str = "hi",
    bin_width: float = 5000.0,
) -> DataFrame:
    """Equi-join a fact table's `point` column into [lo, hi) intervals.

    Each interval is exploded into the fixed-width bins it overlaps;
    the fact side computes its single bin; both sides hash-join on
    `_bin` and the exact `lo <= point < hi` predicate is applied after.
    Intervals may overlap (a fact row then matches every containing
    interval).  All join/filter logic stays JVM-side.
    """
    point_col = F.col(point) if isinstance(point, str) else point
    binned_ranges = ranges.withColumn(
        "_bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo) / bin_width),
                # hi is exclusive: a range ending exactly on a bin edge
                # does not overlap the next bin.
                F.floor((F.col(hi) - 1e-9) / bin_width),
            )
        ),
    )
    fact_binned = fact.withColumn("_bin", F.floor(point_col / bin_width))
    joined = fact_binned.join(binned_ranges, on="_bin")
    return joined.filter(
        (point_col >= F.col(lo)) & (point_col < F.col(hi))
    ).drop("_bin")

