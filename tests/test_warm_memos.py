"""Lock the registry-level ingest warm-up (r14 verdict #2): one call
builds every durable memo, a second call is a near-free no-op (every
memo hits), and the stamped seconds are the build cost."""

from __future__ import annotations

import time

from iq_to_hdl_migration_spark.queries.warm import warm_all_memos

SF_DIR = "/root/testdata/sf0.001"


def test_warm_all_memos_builds_then_hits(spark):
    t_build = warm_all_memos(spark, SF_DIR)
    assert isinstance(t_build, float) and t_build > 0
    t0 = time.perf_counter()
    t_again = warm_all_memos(spark, SF_DIR)
    wall = time.perf_counter() - t0
    # second pass is dict lookups (the source fingerprint's stat
    # calls) — far under the build cost (loose bound so a noisy host
    # can't flake it)
    assert wall < max(2.0, t_build / 5), (wall, t_build)
    assert t_again <= t_build
