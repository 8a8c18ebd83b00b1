"""Per-query optimization profiler (round 14).

For each requested query name (default: every bench headliner), runs
the query like bench.py does (warm-up + best-of-3 timed collect) and
additionally records:
  - the number of Spark jobs the timed run issues (job-count is the
    fixed-overhead proxy: eager localCheckpoints each cost a job)
  - the final adaptive physical plan (explain formatted), written to
    plans/r15/<name>_<tag>.txt when --plans TAG is given

Usage:
  python scripts/profile_bench.py [--plans before] [name ...]
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 (default)
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
    args = sys.argv[1:]
    plan_tag = None
    if "--plans" in args:
        i = args.index("--plans")
        plan_tag = args[i + 1]
        args = args[:i] + args[i + 2:]

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from iq_to_hdl_migration_spark.queries import load_all
    from iq_to_hdl_migration_spark.session import get_spark
    from iq_to_hdl_migration_spark.sources.tables import stage_warehouse

    spark = get_spark("profile_bench")
    spark.sparkContext.setLogLevel("ERROR")
    if os.environ.get("SPARK_GRAFT_STAGE", "1") != "0":
        wh = os.environ.get("SPARK_GRAFT_WAREHOUSE_DIR",
                            "/tmp/spark_graft_warehouse")
        stage_warehouse(spark, sf_dir, wh)
        os.environ["SPARK_GRAFT_WAREHOUSE"] = wh
    from iq_to_hdl_migration_spark.queries.warm import warm_all_memos
    warm_all_memos(spark, sf_dir)

    registry = load_all()
    names = args or sorted(n for n, s in registry.items() if s.bench)
    tracker = spark.sparkContext.statusTracker()

    out = {}
    for name in names:
        spec = registry[name]
        spark.sparkContext.setJobDescription(f"profile:{name}")
        spec.fn(spark, sf_dir).collect()              # warm-up
        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).collect()
            dt = time.perf_counter() - t0
            if dt < best:
                best = dt
        # job count for one run: measured separately (job group is a
        # public API) so the timing loop stays untouched
        group = f"prof-{name}"
        spark.sparkContext.setJobGroup(group, name)
        spec.fn(spark, sf_dir).collect()
        jobs = len(tracker.getJobIdsForGroup(group) or [])
        spark.sparkContext.setJobGroup(None, None)
        out[name] = {"sec": round(best, 4), "jobs": jobs}
        print(f"{name}: {best:.3f}s jobs={jobs}", flush=True)
        if plan_tag:
            pdir = ROOT / "plans" / "r15"
            pdir.mkdir(parents=True, exist_ok=True)
            df = spec.fn(spark, sf_dir)
            txt = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
            (pdir / f"{name}_{plan_tag}.txt").write_text(txt)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
