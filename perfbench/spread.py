"""Runs the benchmark on several seeds and reports, per end-to-end
metric, the median and the quartile spread (Q3 - Q1) / median next to
the metric's bound. Run from the root of a checkout:

    python3 perfbench/spread.py --workload migrate --seeds 1-10

Each run is a separate process, one after another.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import statistics
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        out = subprocess.run(
            spec["command"] + ["--workload", args.workload, "--seed",
                               str(seed), "--seconds",
                               str(spec["run_seconds"]), "--trace",
                               str(args.trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=200)
        line = out.stdout.strip().splitlines()[-1] if out.stdout.strip() else ""
        if out.returncode != 0 or not line.startswith("{"):
            print(f"seed {seed}: exit {out.returncode}\n{out.stderr[-2000:]}")
            return 1
        res = json.loads(line)
        print(f"seed {seed}: {time.perf_counter() - t0:.1f} s wall, "
              f"correct={res['correct']} failed={res['failed']}/"
              f"{res['attempted']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        b = bounds.get(k)
        print(f"{k:28s} median {med:12.4f}  spread {(q3 - q1) / med:6.3f}"
              + (f"  bound {b} (third {b / 3:.3f})" if b else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
