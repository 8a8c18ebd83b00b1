"""S13: rule-table sources — packaged CSV/list data driving the
compatibility checks and DDL rewrites (reference:
Common/dbopts_noncustomer.csv, hosparams_noncustomer.csv,
login_policy.csv; loaders migration.py:620-635,992-999).

The packaged files here are representative fixtures with the same
shape; production drops in the full vendor lists unchanged. Rule
tables are tiny -> loaded driver-side as lists and dicts; the catalog
fixture exposes the option lists as the `dbopts_rules` and
`hosparams_rules` tables for joins (J16 options∩rules), and the DDL
engine reads the login-policy defaults (D11).
"""

from __future__ import annotations

from pathlib import Path

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

