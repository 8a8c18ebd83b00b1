"""Regenerates perfbench/digests.json, the stored answers every run is
checked against. Run from the root of a checkout:

    python3 perfbench/make_digests.py

Query digests come from the registry's DuckDB oracles over each
committed data set under perfbench/data (sf0.01 for the runs, sf0.001
for the smoke test), for every frozen headliner and twin (so a change
of slice needs no new digests) and the assessment report.
`dedup_incremental_pairs` has no oracle; it is equal by contract to
`stream_incremental_dedup` and is digested from that oracle. The DDL
rule count, rule-hit counts of the seeded reload script and the number
of generated DDL statements need a Spark session; the hit counts are
taken for two seeds and must agree, which is what lets every seed be
checked against one stored answer.
"""

from __future__ import annotations

import json
import pathlib
import sys
import tempfile

import run as bench
from digest import digest

ORACLE_STAND_INS = {"dedup_incremental_pairs": "stream_incremental_dedup"}


def oracle_digests(reg: dict, data_dir: pathlib.Path) -> dict:
    import duckdb

    from iq_to_hdl_migration_spark.sources.tables import TABLES, table_path
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{table_path(str(data_dir), t)}')")
    queries = {}
    for name in sorted(bench.HEADLINERS + bench.TWINS
                       + ("assessment_report",)):
        sql = reg[ORACLE_STAND_INS.get(name, name)].oracle
        if sql is None:
            raise SystemExit(f"{name} has no oracle")
        rel = con.sql(sql)
        queries[name] = digest(list(rel.columns), rel.fetchall())
    tables = {t: con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
              for t in TABLES}
    return {"queries": queries, "tables": tables}


def ddl_answers() -> dict:
    run_dir = pathlib.Path(tempfile.mkdtemp(
        prefix="digests-", dir=bench._mkdir(bench.RUNS_DIR / "tmp")))
    bench.isolate(run_dir, trace=False)
    from iq_to_hdl_migration_spark.catalog.fixture import ensure_catalog_views
    from iq_to_hdl_migration_spark.ddl import engine as E
    from iq_to_hdl_migration_spark.ddl import rules as R
    from iq_to_hdl_migration_spark.schema.generate import generate_spark_ddl
    from iq_to_hdl_migration_spark.session import get_spark

    spark = get_spark("perfbench-digests")
    try:
        ensure_catalog_views(spark)
        rules = R.compile_rules(spark, option_names=["Append_Load"])
        hits = [bench.rule_hit_counts(E.rewrite(bench.reload_script(s), rules))
                for s in (0, 1)]
        if hits[0] != hits[1]:
            raise SystemExit("seeded renames change the rule-hit counts")
        statements = len(generate_spark_ddl(spark,
                                            owners=bench.DDL_OWNERS))
    finally:
        bench.stop_spark(spark)
    return {"copies": bench.DDL_COPIES, "rules": len(rules),
            "hits": hits[0], "statements": statements}


def main() -> int:
    names = sorted(d.name for d in bench.DATA_ROOT.iterdir() if d.is_dir())
    for name in names:
        bench.check_checkout(name)
    sys.path.insert(0, str(bench.ROOT))
    from iq_to_hdl_migration_spark.queries import load_all
    reg = load_all(strict=True)
    data = {name: oracle_digests(reg, bench.DATA_ROOT / name)
            for name in names}
    answers = {"data": data, "ddl": ddl_answers()}
    bench.DIGESTS.write_text(json.dumps(answers, indent=1, sort_keys=True)
                             + "\n")
    print(f"wrote {bench.DIGESTS}: "
          + ", ".join(f"{n}: {len(d['queries'])} query digests"
                      for n, d in data.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
