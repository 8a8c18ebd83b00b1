"""Size-aware broadcast hinting for dimension joins.

The reference engine joins fact tables against dimension tables of two
very different kinds (see /root/reference docs; e.g. the option/rule
lookups in Pre_Migration/pre_migration.py vs the per-customer extract
fan-out in IQ_Extraction/):

* **constant-cardinality** ("const_dim") frames whose row count does
  not grow with data volume — ``nation`` (25 rows), ``region`` (5),
  one-row scalar aggregates, bounded top-k lists.  Broadcasting these
  is always right, at any scale, so call sites hint them explicitly
  with ``F.broadcast``.

* **sf-scaled** tables — ``customer`` / ``supplier`` / ``part`` /
  ``orders`` — that are KB at test scale but hundreds of GB at the
  100 TB design point (customer ≈ 15 B rows).  A hardcoded
  ``F.broadcast()`` on these bypasses AQE's size check and Spark
  *hard-fails* any broadcast build over 8 GB — the query errors out,
  it does not merely slow down.  :func:`scaled_dim` therefore applies
  NO hint: while the build side is under
  ``spark.sql.autoBroadcastJoinThreshold`` (10 MB default) the planner
  still picks a broadcast join on its own, so small-scale plans are
  unchanged; past the threshold AQE falls back to a shuffle join that
  actually completes.

``tests/test_plan_quality.py`` locks both behaviours: with the
threshold forced to ``-1`` the constant dims must still broadcast (the
hint survives) and the scaled tables must NOT (no stray hint).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["scaled_dim"]


def scaled_dim(df: DataFrame) -> DataFrame:
    """Mark an sf-scaled dimension (customer/supplier/part/orders):
    intentionally **no** broadcast hint — the size-based planner / AQE
    broadcasts it while small and shuffle-joins it once it outgrows
    ``autoBroadcastJoinThreshold``.  Identity function; it exists so
    every join call site documents which regime its build side is in
    and so a grep for ``F.broadcast`` finds only scale-safe hints."""
    return df
