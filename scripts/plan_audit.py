"""Registry-wide physical-plan audit: execute every batch query at a
small sf and flag scale anti-patterns in the final adaptive plan:

  * CartesianProduct anywhere;
  * the InferFiltersFromGenerate trap — a Filter (or scan DataFilters)
    carrying an inlined `transform(sequence...)` gram/shingle builder,
    i.e. an array-builder re-evaluated per input row (the round-5
    winnowing bug, measured 16x);
  * a filter evaluating the same regexp more than once per row;
  * scalar-barrier creep (r11 verdict #7): the number of
    `.collect()`-driven driver round-trips a query issues WHILE
    BUILDING its DataFrame is counted, and any entry exceeding
    _BARRIER_CAP that is not in the grandfathered audit list below is
    flagged — iterative audits like the PageRank convergence report
    are documented exceptions, but the pattern must not spread into
    per-query paths.

The per-query gates in tests/test_plan_quality.py pin the headline
plans; this sweep is the registry-wide dragnet (run: round 5 — zero
flags across 199 batch queries).

Usage: python scripts/plan_audit.py [sf_dir]
Prints one JSON object {query: [flags]} — empty means clean.
"""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import bench
from iq_to_hdl_migration_spark.queries import load_all

# Queries allowed more than _BARRIER_CAP driver round-trips during
# DataFrame CONSTRUCTION, with the count they are pinned at. All are
# iterative fixpoints/audits whose per-round scalar is documented in
# their register() doc; growth past the pinned count still flags.
_BARRIER_CAP = 2
_BARRIER_GRANDFATHER = {
    # measured r12 (sf0.001) — every entry's barrier is documented in
    # its register() doc or module header:
    # per-iteration dangling-mass scalar (10 rounds) x2 for the audit
    "graph_pagerank_convergence_report": 20,
    "graph_user_pagerank_fixedpoint_top20": 10,
    # driver-side DDL TEXT generation (bounded catalog rows -> SQL
    # strings) — not a data-path query
    "ddl_fk_statements": 8,
    "s7_generated_ddl": 9,
}


def audit(spark, sf_dir: str) -> dict[str, list[str]]:
    # patch the CONCRETE DataFrame class: in Spark 4 the classic
    # implementation overrides collect(), so patching the abstract
    # pyspark.sql.DataFrame would count nothing. Guard (r12 advice):
    # assert the registry's frames ARE this class — a connect-vs-
    # classic mismatch would otherwise silently count zero barriers.
    DataFrame = type(spark.range(1))
    import pyspark.sql as _sql
    assert issubclass(DataFrame, _sql.DataFrame), (
        "probe frame class does not derive from pyspark.sql.DataFrame "
        "— the barrier counter would patch the wrong class")

    flags: dict[str, list[str]] = {}
    orig_collect = DataFrame.collect
    barrier_n = {"n": 0}

    def counting_collect(self):
        barrier_n["n"] += 1
        return orig_collect(self)

    for name, spec in sorted(load_all().items()):
        if name.startswith("stream_"):
            continue  # streaming drains have no single batch plan
        try:
            # count driver barriers fired while BUILDING the frame
            # (memoized pipelines pay their builder's barriers on the
            # first consumer the sweep reaches — later consumers read
            # the memo, which is also the production shape)
            barrier_n["n"] = 0
            DataFrame.collect = counting_collect
            try:
                df = spec.fn(spark, sf_dir)
            finally:
                DataFrame.collect = orig_collect
            barriers = barrier_n["n"]
            if not isinstance(df, DataFrame):
                # a frame of another concrete class (e.g. connect)
                # would have dodged the patched collect — flag loudly
                # instead of silently counting zero barriers
                flags[name] = [f"unpatched-frame-class:{type(df).__name__}"]
                continue
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as ex:  # noqa: BLE001 - audit must keep going
            flags[name] = [f"ERROR {str(ex)[:120]}"]
            continue
        f = []
        cap = _BARRIER_GRANDFATHER.get(name, _BARRIER_CAP)
        if barriers > cap:
            f.append(f"scalar-barriers:{barriers}>{cap}")
        if "CartesianProduct" in plan:
            f.append("cartesian")
        for line in plan.splitlines():
            s = line.strip()
            if s.startswith(("Filter", "+- Filter")) or "DataFilters:" in s:
                if "transform(sequence" in s:
                    f.append("inlined-transform-filter")
                    break
                if s.count("regexp_replace") >= 2:
                    f.append("multi-regexp-filter")
                    break
        if f:
            flags[name] = f
    return flags


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--out=")]
    out_path = next((a.split("=", 1)[1] for a in sys.argv[1:]
                     if a.startswith("--out=")), None)
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = bench.session("plan-audit")
    payload = json.dumps(audit(spark, sf_dir), indent=1)
    if out_path:
        # file handoff for scripted callers (scripts/check.py): stdout
        # under a live SparkSession can interleave JVM/log lines with
        # the JSON and break a stdout parse
        with open(out_path, "w") as f:
            f.write(payload)
    print(payload)


if __name__ == "__main__":
    main()
