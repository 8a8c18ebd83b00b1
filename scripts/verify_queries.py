"""Targeted driver-style oracle verification for a list of query
names (round-14 inner loop): runs each named query against its DuckDB
oracle at one or more scale factors with the same bit-exact compare
the full gate uses.

Usage: python scripts/verify_queries.py name [name ...] [--sf 0.001,0.01]
"""

from __future__ import annotations

import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tests"))


def main() -> None:
    args = sys.argv[1:]
    sfs = "0.001,0.01"
    if "--sf" in args:
        i = args.index("--sf")
        sfs = args[i + 1]
        args = args[:i] + args[i + 2:]
    names = args
    assert names, "pass at least one query name"

    import bench
    from oracle import assert_matches_oracle
    from iq_to_hdl_migration_spark.queries import load_all

    registry = load_all()
    spark = bench.session("verify-queries")
    for sf in sfs.split(","):
        sf_dir = f"/root/testdata/sf{sf}"
        bench.stage(spark, sf_dir)
        for name in names:
            spec = registry[name]
            if spec.oracle is None:
                print(f"{name}@sf{sf}: SKIP (no oracle)")
                continue
            max_sf = getattr(spec, "oracle_max_sf", None)
            if max_sf is not None and float(sf) > max_sf:
                print(f"{name}@sf{sf}: SKIP (oracle_max_sf={max_sf})")
                continue
            assert_matches_oracle(spark, spec.fn, spec.oracle, sf_dir,
                                  name=name)
            print(f"{name}@sf{sf}: OK")
    print("ALL OK")


if __name__ == "__main__":
    main()
