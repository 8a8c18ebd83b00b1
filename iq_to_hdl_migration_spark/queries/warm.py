"""Registry-level ingest warm-up (r14 verdict #2).

Every durable memo — the stored structure a 100 TB deployment
materializes at INGEST time (pair graphs, edge tables, trained
indexes, rank trajectories) — is built here, in one named step, so
that bench.py's untimed ingest phase covers ALL of them and its
`memo_build_sec` stamp is the complete stored-structure build cost.
Before this module the stamp covered only the three dedup structures;
the other memos built silently inside the first consumer's untimed
warm-up collect, which made several per-query timings look like
eliminated work when they were warm reads of an unstamped build.

Each module owns its memo configs (a warm function next to the
builders it warms), so warm-up and query can never drift apart; this
module is just the roll-up bench.py calls.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import SparkSession


def warm_all_memos(spark: SparkSession, sf_dir: str) -> float:
    """Build every durable memo in the registry; returns the wall
    seconds of the whole ingest (stamped as `memo_build_sec`). A
    second call is a no-op dict lookup per memo.

    The five memo FAMILIES are independent DAGs (each family's warm
    function orders its own internal dependencies), so they overlap on
    driver threads (guide §2.6, round 15): Spark schedules the
    concurrent jobs across the same executor slots, and the ingest
    wall drops from the sum of the families to roughly the slowest one
    (measured 45 -> 17 s at sf0.1 on an idle host). Memo identity is
    thread-safe via per-tag build locks in sources.memo, so a tag
    shared across families still builds exactly once."""
    from iq_to_hdl_migration_spark.queries.dedup_queries import (
        warm_dedup_memos)
    from iq_to_hdl_migration_spark.queries.events_queries import (
        warm_events_memos)
    from iq_to_hdl_migration_spark.queries.sequence_queries import (
        warm_graph_memos)
    from iq_to_hdl_migration_spark.queries.similarity_queries import (
        warm_similarity_memos)
    from iq_to_hdl_migration_spark.queries.text_queries import (
        warm_text_memos)

    families = (warm_dedup_memos, warm_events_memos,
                warm_similarity_memos, warm_graph_memos,
                warm_text_memos)
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=len(families)) as pool:
        futures = [pool.submit(fn, spark, sf_dir) for fn in families]
        for f in futures:
            f.result()  # surface the first builder error, if any
    return round(time.perf_counter() - t0, 3)
