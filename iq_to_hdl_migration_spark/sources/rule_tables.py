"""S13: rule-table sources — packaged CSV/list data driving the
compatibility checks and DDL rewrites (reference:
Common/dbopts_noncustomer.csv, hosparams_noncustomer.csv,
login_policy.csv; loaders migration.py:620-635,992-999).

The packaged files here are representative fixtures with the same
shape; production drops in the full vendor lists unchanged. Rule
tables are tiny -> loaded driver-side (lists) and optionally exposed
as DataFrames for joins (J16 options∩rules).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from iq_to_hdl_migration_spark.session import local_frame

_DATA = Path(__file__).resolve().parent / "data"


def load_option_names(name: str = "dbopts_noncustomer.csv") -> list[str]:
    """One option name per line (comments with '#' skipped)."""
    return [ln.strip() for ln in (_DATA / name).read_text().splitlines()
            if ln.strip() and not ln.startswith("#")]


def load_login_policy_defaults(
        name: str = "login_policy.csv") -> dict[str, str]:
    """k=v lines -> dict (reference load_login_list,
    migration.py:992-999)."""
    out = {}
    for ln in (_DATA / name).read_text().splitlines():
        if "=" in ln:
            k, v = ln.split("=", 1)
            out[k.strip()] = v.strip()
    return out


def options_rules_df(spark: SparkSession,
                     name: str = "dbopts_noncustomer.csv") -> DataFrame:
    return local_frame(spark, [(n,) for n in load_option_names(name)],
                       "option_name string")
