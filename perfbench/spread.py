"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median) against the
bounds in BENCHMARK.json.

    python3 perfbench/spread.py --workload update --seeds 1-10

Run from the repository root; each run is a separate process, one at a
time. Exits 1 when a spread (setup_s excepted) is at or above a third
of its bound or a run fails its checks."""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {n: [] for n in bounds}
    ok = True
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, capture_output=True, text=True, check=False)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        ok &= result["correct"]
        for n in bounds:
            values[n].append(result["metrics"][n]["value"])
        print(f"seed {seed}: {wall:.0f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} "
              + " ".join(f"{n}={result['metrics'][n]['value']:.4g}" for n in bounds),
              flush=True)
    for n, vs in values.items():
        spread = stats.quartile_spread(vs) if len(vs) > 1 else 0.0
        flag = "" if n == "setup_s" or spread < bounds[n] / 3 else "  <-- too wide"
        ok &= bool(flag == "")
        print(f"{n:32s} median={statistics.median(vs):.5g} "
              f"spread={spread:.4f} bound={bounds[n]}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
