"""Chunked runner for the 5x sweep: times the sweep set (bench +
EXTRA) restricted to an alphabetical half/slice, one scale dir per
process — lets the sweep run as a few bounded-duration invocations
instead of one long one. Usage:

  python scripts/sweep_chunk.py DIR K SLICE N_SLICES

Prints one JSON line {"dir", "k", "slice", "sec": {...}}.
"""

from __future__ import annotations

import json
import pathlib
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))


def main() -> None:
    sf_dir, k, sl, n_sl = (sys.argv[1], int(sys.argv[2]),
                           int(sys.argv[3]), int(sys.argv[4]))
    from scale_smoke import EXTRA

    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.queries.warm import warm_all_memos
    from iq_to_hdl_migration_spark.session import get_spark

    spark = get_spark("sweep-chunk")
    spark.sparkContext.setLogLevel("ERROR")
    reg = load_all()
    names = sorted(n for n, s in reg.items()
                   if (s.bench or n in EXTRA))
    names = [n for i, n in enumerate(names) if i % n_sl == sl]
    memo_sec = warm_all_memos(spark, sf_dir)
    print(json.dumps({"memo_build_sec": memo_sec, "dir": sf_dir}),
          file=sys.stderr)
    sec = {}
    for name in names:
        reg[name].fn(spark, sf_dir).collect()       # warm-up
        t0 = time.perf_counter()
        reg[name].fn(spark, sf_dir).collect()
        sec[name] = round(time.perf_counter() - t0, 3)
    print(json.dumps({"dir": sf_dir, "k": k, "slice": sl, "sec": sec}))


if __name__ == "__main__":
    main()
