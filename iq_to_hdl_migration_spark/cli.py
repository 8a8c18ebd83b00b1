"""CLI entry points mirroring the reference's three utilities
(SURVEY §3, §7 step 8: pre_migration.py / migration.py /
load_schema_and_data.py flag surfaces, re-expressed over the Spark
engine).

    python -m iq_to_hdl_migration_spark.cli assess
    python -m iq_to_hdl_migration_spark.cli inventory
    python -m iq_to_hdl_migration_spark.cli migrate --sf-dir ... \
        --workdir /tmp/mig [--tables lineitem,orders]
    python -m iq_to_hdl_migration_spark.cli load-schema
    python -m iq_to_hdl_migration_spark.cli query q1_pricing_summary
    python -m iq_to_hdl_migration_spark.cli report --workdir /tmp/mig
"""

from __future__ import annotations

import argparse
import sys

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def _spark(app: str):
    from iq_to_hdl_migration_spark.session import get_spark
    return get_spark(f"iq_to_hdl_migration_spark-cli-{app}")


def cmd_assess(args) -> int:
    """Pre-migration assessment report (§3.1)."""
    from iq_to_hdl_migration_spark.queries import load_all
    spark = _spark("assess")
    load_all()["assessment_report"].fn(spark, args.sf_dir) \
        .orderBy("check_name").show(50, truncate=False)
    return 0


def cmd_inventory(args) -> int:
    """Master table inventory (J3) + planning view."""
    from iq_to_hdl_migration_spark.queries import load_all
    spark = _spark("inventory")
    load_all()["j3_master_inventory"].fn(spark, args.sf_dir) \
        .orderBy("table_id").show(100, truncate=False)
    return 0


def cmd_migrate(args) -> int:
    """Extract -> stage -> load -> verify -> status for data tables."""
    from iq_to_hdl_migration_spark.pipeline.migrate import (
        MigrationStatus, migrate_tables)
    from iq_to_hdl_migration_spark.sources.tables import TABLES, load_tables

    spark = _spark("migrate")
    names = (args.tables.split(",") if args.tables else TABLES)
    sources = load_tables(spark, args.sf_dir, names)
    status = MigrationStatus(spark, f"{args.workdir}/status")
    outcomes = migrate_tables(spark, sources, f"{args.workdir}/staging",
                              f"{args.workdir}/target", status)
    for o in outcomes:
        print(f"{o.table_key}: {o.state} expected={o.expected} "
              f"actual={o.actual} {o.detail}")
    failed = [o for o in outcomes if o.state == "failed"]
    return 1 if failed else 0


def cmd_load_schema(args) -> int:
    """Generate Spark DDL from the catalog snapshot and execute it
    with onerror-continue (S7 + S9)."""
    from iq_to_hdl_migration_spark.catalog.fixture import (
        ensure_catalog_views)
    from iq_to_hdl_migration_spark.schema.generate import generate_spark_ddl
    from iq_to_hdl_migration_spark.schema.load import execute_ddl

    spark = _spark("load-schema")
    ensure_catalog_views(spark)
    outcomes = execute_ddl(spark, generate_spark_ddl(spark))
    for o in outcomes:
        print(f"{o.key}: {'ok' if o.ok else 'FAILED ' + o.error}")
    return 1 if any(not o.ok for o in outcomes) else 0


def cmd_query(args) -> int:
    """Run any registered query by name."""
    from iq_to_hdl_migration_spark.queries import load_all
    registry = load_all()
    if args.name not in registry:
        print(f"unknown query {args.name!r}; available: "
              f"{', '.join(sorted(registry))}", file=sys.stderr)
        return 2
    spark = _spark("query")
    registry[args.name].fn(spark, args.sf_dir).show(args.rows,
                                                    truncate=False)
    return 0


def cmd_report(args) -> int:
    """Migration status report from the workdir ledger (V3/V4)."""
    from iq_to_hdl_migration_spark.pipeline.migrate import MigrationStatus
    spark = _spark("report")
    status = MigrationStatus(spark, f"{args.workdir}/status")
    status.current().orderBy("table_key").show(200, truncate=False)
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="iq_to_hdl_migration_spark")
    p.add_argument("--sf-dir", default=DEFAULT_SF_DIR,
                   help="testdata directory (default sf0.001)")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("assess")
    sub.add_parser("inventory")
    mig = sub.add_parser("migrate")
    mig.add_argument("--workdir", required=True)
    mig.add_argument("--tables", default="")
    sub.add_parser("load-schema")
    q = sub.add_parser("query")
    q.add_argument("name")
    q.add_argument("--rows", type=int, default=20)
    rep = sub.add_parser("report")
    rep.add_argument("--workdir", required=True)

    args = p.parse_args(argv)
    return {"assess": cmd_assess, "inventory": cmd_inventory,
            "migrate": cmd_migrate, "load-schema": cmd_load_schema,
            "query": cmd_query, "report": cmd_report}[args.cmd](args)


if __name__ == "__main__":
    raise SystemExit(main())
