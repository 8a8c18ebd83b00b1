"""Per-query optimization profiler (round 14).

For each requested query name (default: every bench headliner), runs
the query like bench.py does (warm-up + best-of-3 timed collect) and
additionally records:
  - the number of Spark jobs the timed run issues (job-count is the
    fixed-overhead proxy: eager localCheckpoints each cost a job)
  - the final adaptive physical plan (explain formatted), written to
    DIR/<name>.txt when --plans DIR is given

Usage:
  python scripts/profile_bench.py [--plans DIR] [name ...]
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 (default)
"""

from __future__ import annotations

import json
import os
import pathlib
import sys

ROOT = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))


def main() -> None:
    args = sys.argv[1:]
    plan_dir = None
    if "--plans" in args:
        i = args.index("--plans")
        plan_dir = pathlib.Path(args[i + 1])
        plan_dir.mkdir(parents=True, exist_ok=True)
        args = args[:i] + args[i + 2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import bench
    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.queries.warm import warm_all_memos

    spark = bench.session("profile_bench")
    bench.stage(spark, sf_dir)
    warm_all_memos(spark, sf_dir)

    registry = load_all()
    names = args or bench.headliners(registry)
    tracker = spark.sparkContext.statusTracker()

    out = {}
    for name in names:
        spec = registry[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        best = bench.best_of(spark, spec, sf_dir)
        # job count for one run: measured separately (job group is a
        # public API) so the timing loop stays untouched
        group = f"prof-{name}"
        spark.sparkContext.setJobGroup(group, name)
        spec.fn(spark, sf_dir).collect()
        jobs = len(tracker.getJobIdsForGroup(group) or [])
        spark.sparkContext.setJobGroup(None, None)
        out[name] = {"sec": round(best, 4), "jobs": jobs}
        print(f"{name}: {best:.3f}s jobs={jobs}", flush=True)
        if plan_dir:
            df = spec.fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            (plan_dir / f"{name}.txt").write_text(txt)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
