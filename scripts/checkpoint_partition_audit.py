"""Registry-wide localCheckpoint materialization audit (round 15).

A localCheckpoint FREEZES whatever partition layout AQE chose for the
frame being materialized — and AQE's coalescing can collapse a small
(at this SF) but data-scaled frame to ONE partition, which serializes
every downstream stage that reads the checkpoint (partitioning is NOT
preserved through localCheckpoint in Spark 4.1, but the partition
COUNT is). This audit monkey-patches DataFrame.localCheckpoint to
record, for the untimed ingest (warm_all_memos) and for every bench
headliner, the repo call site and the materialized partition count,
then flags the query-path sites that materialized as 1 partition.

A 1-partition site is not automatically a defect: bounded frames
(monthly spines, k x dim centroid tables) are fine on one partition.
Each flagged site needs a judgment call — is the frame data-scaled,
and is the downstream stage compute-heavy? (Round 15: the PPJoin
prefix checkpoint was both — pinning it n-way won 3.6 -> 2.8 s;
pinning the rfm/kcore/ivf sites measured neutral-to-negative and was
rejected, see OPTIMIZATION_r15.md.)

Usage: python scripts/checkpoint_partition_audit.py [query ...]
       (default: every bench headliner)
"""

from __future__ import annotations

import os
import pathlib
import sys
import time
import traceback
from collections import defaultdict

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

# Spark 4: sessions hand out pyspark.sql.classic.dataframe.DataFrame,
# which OVERRIDES localCheckpoint — patching the pyspark.sql.DataFrame
# base class intercepts nothing.
from pyspark.sql.classic.dataframe import DataFrame

records: dict[str, list[int]] = defaultdict(list)
_orig = DataFrame.localCheckpoint


def _patched(self, eager=True):
    out = _orig(self, eager=eager)
    site = "?"
    for fr in reversed(traceback.extract_stack()):
        if "/iq_to_hdl_migration_spark/" in fr.filename:
            site = (fr.filename.split("iq_to_hdl_migration_spark/")[-1]
                    + f":{fr.lineno}")
            break
    try:
        records[site].append(out.rdd.getNumPartitions())
    except Exception:
        records[site].append(-1)
    return out


def main() -> None:
    DataFrame.localCheckpoint = _patched

    import bench
    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.queries.warm import warm_all_memos

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = bench.session("ckpt-audit")
    bench.stage(spark, sf_dir)

    reg = load_all()
    names = sys.argv[1:] or bench.headliners(reg)

    t0 = time.time()
    warm_all_memos(spark, sf_dir)
    print(f"warm_all_memos: {time.time() - t0:.1f}s", flush=True)
    warm_sites = {k: list(v) for k, v in records.items()}

    per_query: dict[str, dict[str, list[int]]] = {}
    for name in names:
        records.clear()
        reg[name].fn(spark, sf_dir).collect()
        if records:
            per_query[name] = {k: list(v) for k, v in records.items()}

    print("\n=== ingest (warm_all_memos) sites ===")
    for site, counts in sorted(warm_sites.items()):
        print(f"  {site}: {counts}")
    flagged = {name: {s: c for s, c in sites.items() if 1 in c}
               for name, sites in per_query.items()}
    flagged = {n: s for n, s in flagged.items() if s}
    print("\n=== query-path sites that materialized 1 partition ===")
    for name, sites in sorted(flagged.items()):
        print(f"  {name}: {sites}")
    print(f"\n{len(flagged)} flagged / {len(names)} queries audited")


if __name__ == "__main__":
    main()
