"""Single-partition-exchange audit (round 14): the advisor's r13 find
(customer_rfm_segments' global NTILE = a single-task sort of every
customer) motivates a DETECTOR for the whole class, not another
hand-hunt.  A global window/sort shows up physically as
`ShuffleExchangeExec(SinglePartition)`; whether it is a scale killer
depends on HOW MANY ROWS flow through it — a 32-row offsets frame or
a <=96-month series is fine, a per-customer frame is not.  Static
plan text can't tell them apart, but the executed plan's
`shuffleRecordsWritten` metric can: run every batch query at two
scales (sf0.001 and sf0.01 — 10x the data) and flag any query whose
single-partition row count GROWS with the corpus past an absolute
floor.

Flag rule: sp_rows(sf0.01) >= FLOOR (5000) AND growth >= GROWTH (3x).
Bounded frames (spines, month series, offset frames, top-k heads)
stay constant or tiny across scales and never trip both conditions;
a data-scaled frame grows ~10x and blows through the floor by sf0.01.

Grandfathered entries pin documented bounded-but-growing cases (none
at introduction).

Usage: python scripts/sp_exchange_audit.py [small_sf_dir] [big_sf_dir]
Prints one JSON object; "flagged" empty means clean.
"""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

FLOOR = 5000
GROWTH = 3.0

# query -> pinned max sp_rows at the BIG scale, with the reason the
# growth is acceptable, for documented exceptions (none yet — the
# registry is clean at introduction; additions require a doc'd bound)
GRANDFATHER: dict[str, int] = {}


def _walk(node):
    yield node
    ch = node.children()
    for i in range(ch.size()):
        yield from _walk(ch.apply(i))
    cls = node.getClass().getName()
    if "AdaptiveSparkPlanExec" in cls:
        yield from _walk(node.executedPlan())
    elif "QueryStageExec" in cls:
        yield from _walk(node.plan())
    elif "ReusedExchangeExec" in cls:
        # do NOT descend: the underlying exchange is reached (and
        # counted once) via its owning stage
        return


def sp_rows_of(df) -> int:
    """Sum of shuffleRecordsWritten over distinct SinglePartition
    ShuffleExchangeExec nodes in the EXECUTED plan (call after an
    action has run)."""
    seen = set()
    total = 0
    plan = df._jdf.queryExecution().executedPlan()
    for n in _walk(plan):
        if n.getClass().getSimpleName() != "ShuffleExchangeExec":
            continue
        if "SinglePartition" not in n.outputPartitioning().toString():
            continue
        nid = n.id()
        if nid in seen:
            continue
        seen.add(nid)
        mets = n.metrics()
        if mets.contains("shuffleRecordsWritten"):
            total += mets.apply("shuffleRecordsWritten").value()
    return int(total)


def measure(spark, sf_dir: str) -> dict[str, int]:
    from iq_to_hdl_migration_spark.queries import load_all

    out = {}
    for name, spec in sorted(load_all().items()):
        if name.startswith("stream_"):
            continue
        try:
            df = spec.fn(spark, sf_dir)
            df.collect()
            out[name] = sp_rows_of(df)
        except Exception as ex:  # noqa: BLE001 - audit keeps going
            out[name] = -1
            print(f"ERROR {name}: {str(ex)[:100]}", file=sys.stderr)
    return out


def main() -> None:
    import bench

    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    big = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    spark = bench.session("sp-exchange-audit")
    a = measure(spark, small)
    b = measure(spark, big)
    flagged = {}
    for name, rows_big in b.items():
        rows_small = a.get(name, 0)
        if rows_big < FLOOR or rows_big <= GRANDFATHER.get(name, -1):
            continue
        growth = rows_big / rows_small if rows_small > 0 else float("inf")
        if growth >= GROWTH:
            flagged[name] = {"sp_rows_small": rows_small,
                             "sp_rows_big": rows_big,
                             "growth": round(growth, 2)}
    worst = sorted(b.items(), key=lambda kv: -kv[1])[:10]
    print(json.dumps({"flagged": flagged,
                      "top10_sp_rows_at_big": dict(worst)}))


if __name__ == "__main__":
    main()
