"""Smoke test of the benchmark itself. Run from the root of a checkout:

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced on the sf0.001
copy of the data, asserts that each result line names every metric of
BENCHMARK.json with its unit, and runs `reports` once more against a
copy of the digests with one answer changed, which must be counted as
a failure. Takes about five minutes on four cores.
"""

from __future__ import annotations

import json
import pathlib
import subprocess
import sys
import tempfile

ROOT = pathlib.Path(__file__).resolve().parents[1]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = SPEC["command"] + ["--workload", workload, "--seed", "7",
                             "--seconds", "1", "--trace", str(trace),
                             "--data", "sf0.001", *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=200)
    assert out.returncode == 0, f"{cmd} exited {out.returncode}:\n" \
                                f"{out.stderr[-3000:]}"
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_shape(res: dict, trace: int) -> None:
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res
    named = SPEC["per_layer" if trace else "end_to_end"]
    assert set(res["metrics"]) == {m["name"] for m in named}, res["metrics"]
    for m in named:
        got = res["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert isinstance(got["value"], (int, float)), (m, got)


def main() -> int:
    import run  # perfbench/run.py, for the slice and the digest path

    for w in [w["name"] for w in SPEC["workloads"]]:
        for trace in (0, 1):
            res = bench(w, trace)
            check_shape(res, trace)
            assert res["correct"] and res["failed"] == 0, (w, trace, res)
            print(f"ok {w} trace={trace}: {res['attempted']} calls",
                  flush=True)

    stored = json.loads(run.DIGESTS.read_text())
    victim = run.REPORTS_SLICE[0]
    stored["data"]["sf0.001"]["queries"][victim]["sha256"] = "0" * 64
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=ROOT / ".perfbench",
                                     delete=False) as fh:
        json.dump(stored, fh)
    try:
        res = bench("reports", 0, "--digests", fh.name)
    finally:
        pathlib.Path(fh.name).unlink()
    check_shape(res, 0)
    assert not res["correct"] and res["failed"] == 1, res
    print(f"ok wrong digest for {victim} counted: failed "
          f"{res['failed']}/{res['attempted']}")
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
    sys.exit(main())
