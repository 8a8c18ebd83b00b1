"""Per-twin streaming timing table (r14 verdict #6).

Runs every registered `stream_*` query once (fresh collect, its full
micro-batch drain) at $SPARK_GRAFT_SF_DIR and prints one JSON line
{twin: seconds}. This is a ROUND-DOC artifact, not part of the
headline bench: the twins exercise the micro-batch/state-store
machinery end-to-end and their drain cost is deliberately unbenched
(r14 rationale) — but it must be visible round-over-round so a
regression in the streaming path cannot hide. Any twin regressing
>25% against the previous round's table gets a plan diff in the
round doc.

Usage: python scripts/stream_twin_bench.py [name ...]
"""

from __future__ import annotations

import json
import os
import pathlib
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from iq_to_hdl_migration_spark.queries import load_all

    spark = bench.session("stream_twin_bench")
    bench.stage(spark, sf_dir)

    registry = load_all()
    names = sys.argv[1:] or sorted(
        n for n in registry if n.startswith("stream_"))
    out: dict[str, float] = {}
    for name in names:
        spec = registry[name]
        spark.sparkContext.setJobDescription(f"twin:{name}")
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).collect()
        out[name] = round(time.perf_counter() - t0, 2)
        print(f"{name}: {out[name]}s", file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "load_1m": os.getloadavg()[0],
                      "twins": out}))


if __name__ == "__main__":
    main()
