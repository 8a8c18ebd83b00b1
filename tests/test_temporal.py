"""Unit tests for operators/temporal.py — edge-case semantics the
registry-vs-oracle gate can't isolate (NULL fill, tie-at-ts inclusion,
bin-edge exclusivity, overlapping intervals)."""

from __future__ import annotations

import datetime as dt

from iq_to_hdl_migration_spark.operators.temporal import asof_join, bin_range_join


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_asof_basic_and_null_fill(spark):
    probe = spark.createDataFrame(
        [(1, _ts(5), "p1"), (1, _ts(1), "p0"), (2, _ts(3), "p2")],
        "k int, ts timestamp, pid string")
    ref = spark.createDataFrame(
        [(1, _ts(2), "r1"), (1, _ts(4), "r2"), (2, _ts(9), "r3")],
        "k int, ts timestamp, rid string")
    out = {r["pid"]: r for r in
           asof_join(probe, ref, on="k").collect()}
    # p1@5 sees r2@4 (most recent <= 5, not r1@2)
    assert out["p1"]["ref_rid"] == "r2"
    # p0@1 predates every ref row for k=1 -> NULLs
    assert out["p0"]["ref_rid"] is None and out["p0"]["ref_ts"] is None
    # k=2 ref is at 9 > probe 3 -> NULL (no cross-key leakage)
    assert out["p2"]["ref_rid"] is None


def test_asof_equal_ts_is_visible(spark):
    probe = spark.createDataFrame([(1, _ts(5), "p")],
                                  "k int, ts timestamp, pid string")
    ref = spark.createDataFrame([(1, _ts(5), "r")],
                                "k int, ts timestamp, rid string")
    [row] = asof_join(probe, ref, on="k").collect()
    assert row["ref_rid"] == "r"  # ref at exactly probe ts counts (<=)


def test_bin_range_join_edges_and_overlap(spark):
    fact = spark.createDataFrame(
        [(0.0,), (4999.9,), (5000.0,), (7000.0,), (9999.0,)], "x double")
    ranges = spark.createDataFrame(
        [("a", 0.0, 5000.0),        # [0, 5000): excludes 5000.0
         ("b", 5000.0, 10000.0),
         ("wide", 4000.0, 8000.0)],  # overlaps both
        "label string, lo double, hi double")
    out = bin_range_join(fact, ranges, point="x", bin_width=1000.0)
    got = sorted((r["x"], r["label"]) for r in out.collect())
    assert got == [
        (0.0, "a"), (4999.9, "a"), (4999.9, "wide"),
        (5000.0, "b"), (5000.0, "wide"), (7000.0, "b"), (7000.0, "wide"),
        (9999.0, "b"),
    ]


def test_asof_plan_has_single_shuffle_no_join(spark):
    """The as-of join must compile to union + window (one exchange on
    the key), never a join operator — that's the 100-TB guarantee."""
    probe = spark.createDataFrame([(1, _ts(5), "p")],
                                  "k int, ts timestamp, pid string")
    ref = spark.createDataFrame([(1, _ts(2), "r")],
                                "k int, ts timestamp, rid string")
    plan = asof_join(probe, ref, on="k")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_matches_bruteforce_random(spark):
    """Randomized semantics check: asof_join == per-row brute force
    (greatest ref ts <= probe ts per key) on a seeded random dataset."""
    import random

    rng = random.Random(42)
    keys = list(range(8))

    def minute_ts(m: int) -> dt.datetime:
        return dt.datetime(2024, 1, 1, m // 60 % 24, m % 60)

    # unique (key, minute) pairs on each side
    probe_rows, ref_rows = [], []
    for k in keys:
        p_min = rng.sample(range(0, 500), 40)
        r_min = rng.sample(range(0, 500), 30)
        probe_rows += [(k, minute_ts(m), f"p{k}_{m}") for m in p_min]
        ref_rows += [(k, minute_ts(m), f"r{k}_{m}") for m in r_min]
    probe = spark.createDataFrame(probe_rows, "k int, ts timestamp, pid string")
    ref = spark.createDataFrame(ref_rows, "k int, ts timestamp, rid string")

    got = {r["pid"]: r["ref_rid"]
           for r in asof_join(probe, ref, on="k").collect()}

    by_key = {}
    for k, ts, rid in ref_rows:
        by_key.setdefault(k, []).append((ts, rid))
    for k, ts, pid in probe_rows:
        cands = [(t, r) for t, r in by_key.get(k, []) if t <= ts]
        want = max(cands)[1] if cands else None
        assert got[pid] == want, (pid, got[pid], want)


def test_bin_range_join_matches_naive_random(spark):
    import random

    rng = random.Random(7)
    pts = [(float(rng.randint(0, 10_000)),) for _ in range(300)]
    ranges = []
    for i in range(12):
        lo = float(rng.randint(0, 9_000))
        ranges.append((f"r{i}", lo, lo + float(rng.randint(1, 3_000))))
    fact = spark.createDataFrame(pts, "x double")
    rng_df = spark.createDataFrame(ranges, "label string, lo double, hi double")
    got = sorted((r["x"], r["label"]) for r in
                 bin_range_join(fact, rng_df, point="x",
                                bin_width=777.0).collect())
    want = sorted((x, lab) for (x,) in pts
                  for lab, lo, hi in ranges if lo <= x < hi)
    assert got == want
