"""Hand-maintained query-name lists are filtered with `if n in reg`
or looped with reg[n] at tool time — a typo silently drops the
intended slot (r10 advice). Every curated name must be a registered
query, and the driver-facing sample must stay at the driver's size."""

from __future__ import annotations

import importlib.util
import pathlib
import sys

import pytest

from iq_to_hdl_migration_spark.queries import load_all

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _load(modname: str, path: pathlib.Path):
    spec = importlib.util.spec_from_file_location(modname, path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[modname] = mod
    spec.loader.exec_module(mod)
    return mod


def test_sample_priority_names_registered():
    entry = _load("_entry_for_test", ROOT / "__spark_entry__.py")
    reg = load_all()
    missing = [n for n in entry._SAMPLE_PRIORITY if n not in reg]
    assert not missing, f"_SAMPLE_PRIORITY typos: {missing}"
    dupes = {n for n in entry._SAMPLE_PRIORITY
             if entry._SAMPLE_PRIORITY.count(n) > 1}
    assert not dupes, f"_SAMPLE_PRIORITY duplicates: {dupes}"
    # the driver samples the FIRST 50 registry entries: a curated list
    # shorter than 50 silently cedes slots to registry order
    assert len(entry._SAMPLE_PRIORITY) == 50, (
        f"sample priority holds {len(entry._SAMPLE_PRIORITY)} of the "
        "driver's 50 slots — fill every slot deliberately")


def test_scale_smoke_rotation_names_registered():
    smoke = _load("_scale_smoke_for_test",
                  ROOT / "scripts" / "scale_smoke.py")
    reg = load_all()
    for attr in ("ROTATION", "EXTRA"):
        names = getattr(smoke, attr)
        missing = [n for n in names if n not in reg]
        assert not missing, f"scale_smoke {attr} typos: {missing}"


def test_bench_rotation_names_registered():
    bench = _load("_bench_for_test", ROOT / "bench.py")
    reg = load_all()
    for attr in ("_ROTATE_IN", "_ROTATE_OUT", "_R02_BASELINE_NAMES"):
        names = getattr(bench, attr)
        missing = [n for n in names if n not in reg]
        assert not missing, f"bench {attr} typos: {missing}"
    # rotating out a name that isn't benched, or in a name that
    # already is, silently shrinks/doubles the intended rotation
    benched = {n for n, s in reg.items() if s.bench}
    assert set(bench._ROTATE_OUT) <= benched
    assert not (set(bench._ROTATE_IN) & benched)
    # every baseline name must be in the effective headliner set
    effective = (benched - set(bench._ROTATE_OUT)) | set(bench._ROTATE_IN)
    assert set(bench._R02_BASELINE_NAMES) <= effective
    assert set(bench.headliners(reg)) == effective


def test_load_all_raises_on_broken_module(monkeypatch):
    """A query module that fails to import must fail the load, not
    silently drop its queries from the registry."""
    from iq_to_hdl_migration_spark import queries

    monkeypatch.setattr(queries, "_QUERY_MODULES",
                        [*queries._QUERY_MODULES, "_no_such_query_module"])
    with pytest.raises(ModuleNotFoundError):
        queries.load_all()


def test_register_refuses_duplicate_name():
    """A second registration of a name raises instead of silently
    replacing the first definition (and its oracle)."""
    from iq_to_hdl_migration_spark.queries import REGISTRY, register

    spec = load_all()["q1_pricing_summary"]
    with pytest.raises(ValueError, match="q1_pricing_summary"):
        register("q1_pricing_summary")(lambda spark, sf_dir: None)
    assert REGISTRY["q1_pricing_summary"] is spec
