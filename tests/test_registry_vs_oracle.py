"""Every registered query with an oracle must match DuckDB exactly —
the same gate the driver applies at sf0.01 (here at the test sf)."""

from __future__ import annotations

import pytest

from iq_to_hdl_migration_spark.queries import load_all
from tests.oracle import assert_matches_oracle

REGISTRY = load_all()
WITH_ORACLE = sorted(n for n, s in REGISTRY.items() if s.oracle)


def _sf_of(sf_dir: str) -> float:
    import os
    import re

    m = re.search(r"sf([0-9.]+)", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else 0.0


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, sf_dir, name):
    spec = REGISTRY[name]
    if spec.oracle_max_sf is not None and _sf_of(sf_dir) > spec.oracle_max_sf:
        pytest.skip(f"oracle exact only up to sf{spec.oracle_max_sf} "
                    "(sketch goes approximate past its accuracy bound)")
    assert_matches_oracle(spark, spec.fn, spec.oracle, sf_dir, name=name)


def test_entry_contract(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    assert df.count() > 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) == len(REGISTRY)


def test_every_query_has_an_oracle():
    """The driver hash-checks a query only if oracle_sql() names it;
    a query without an oracle would be checked for rows alone."""
    import __spark_entry__ as e

    assert set(e.oracle_sql()) == set(e.queries())
