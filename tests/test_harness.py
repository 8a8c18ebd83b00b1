"""bench.py is the one measurement harness: every runner under
scripts/ and docs/gen_plans.py gets its session, staging, headliner
set and timing loop from it instead of carrying its own copy."""

from __future__ import annotations

import ast
import importlib.util
import pathlib
import sys
from types import SimpleNamespace

import iq_to_hdl_migration_spark

ROOT = pathlib.Path(__file__).resolve().parents[1]


def _bench():
    spec = importlib.util.spec_from_file_location(
        "_bench_harness_for_test", ROOT / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    sys.modules["_bench_harness_for_test"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_best_of_warms_once_then_keeps_the_fastest(monkeypatch):
    bench = _bench()
    clock = {"t": 0.0}
    # seconds each collect takes: the untimed warm-up, then n timed runs
    costs = iter([9.0, 3.0, 1.0, 2.0])
    calls = []

    class _Frame:
        def collect(self):
            clock["t"] += next(costs)

    def fn(spark, sf_dir):
        calls.append((spark, sf_dir))
        return _Frame()

    monkeypatch.setattr(bench.time, "perf_counter", lambda: clock["t"])
    best = bench.best_of("spark", SimpleNamespace(fn=fn), "sf", n=3)
    assert calls == [("spark", "sf")] * 4
    assert best == 1.0


def test_runners_use_the_harness():
    """No runner builds its own session or staging, and the retired
    raw-file staging knob is gone everywhere."""
    runners = sorted((ROOT / "scripts").glob("*.py")) + [
        ROOT / "docs" / "gen_plans.py"]
    banned = {"get_spark", "stage_warehouse", "setLogLevel"}
    found = set()
    for path in runners:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.attr if isinstance(f, ast.Attribute) else getattr(
                    f, "id", None)
                if name in banned:
                    found.add((path.name, name))
    assert not found, found

    pkg = pathlib.Path(iq_to_hdl_migration_spark.__file__).parent
    texts = [ROOT / "bench.py", *(ROOT / "scripts").glob("*.py"),
             *(ROOT / "docs").glob("*.*"), *pkg.rglob("*.py")]
    hits = [p.name for p in texts if "SPARK_GRAFT_STAGE" in p.read_text()]
    assert not hits, hits


def test_plan_notes_cover_only_headliners():
    """docs/gen_plans.py renders a note only for a timed headliner; a
    note for any other name is dead text."""
    from iq_to_hdl_migration_spark.queries import load_all

    spec = importlib.util.spec_from_file_location(
        "_gen_plans_for_test", ROOT / "docs" / "gen_plans.py")
    gen_plans = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen_plans)
    bench = _bench()
    assert set(gen_plans.NOTES) <= set(bench.headliners(load_all()))
