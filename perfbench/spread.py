"""Run the benchmark once per seed and report each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median), the steadiness check a
metric's bound is held to.

    python3 perfbench/spread.py --workload batch_validate --seeds 1-10 [--seconds 6]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats as S  # noqa: E402


def seeds_of(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    args = ap.parse_args()

    values: dict[str, list[float]] = {}
    for seed in seeds_of(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600,
        )
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode} after {wall:.1f}s", flush=True)
            continue
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        row = {k: v["value"] for k, v in res["metrics"].items()}
        for k, v in row.items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} "
              + " ".join(f"{k}={v:.4g}" for k, v in row.items()), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vals in values.items():
        if len(vals) >= 2:
            spread = S.quartile_spread(vals)
            print(f"{k}: median {S.median(vals):.4g}, spread {spread:.4f} "
                  f"(bound {bounds.get(k)}, a third {bounds.get(k, 0) / 3:.4f})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
