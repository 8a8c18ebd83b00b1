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

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))


def main() -> None:
    sf_dir, k, sl, n_sl = (sys.argv[1], int(sys.argv[2]),
                           int(sys.argv[3]), int(sys.argv[4]))
    import bench
    from scale_smoke import sweep_names, time_queries

    from iq_to_hdl_migration_spark.queries import load_all

    spark = bench.session("sweep-chunk")
    names = [n for i, n in enumerate(sweep_names(load_all()))
             if i % n_sl == sl]
    sec = time_queries(spark, sf_dir, names)
    print(json.dumps({"dir": sf_dir, "k": k, "slice": sl, "sec": sec}))


if __name__ == "__main__":
    main()
