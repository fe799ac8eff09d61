"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 perfbench/spread.py --workload stream_events --seeds 1-5 [--seconds N]

Runs ``perfbench/run.py`` once per seed (sequentially, ``--trace 0``) from the
current directory and prints, per end-to-end metric, the median, the
quartile distance as a share of the median (``statistics.quantiles(values,
n=4)``), and the bound from ``BENCHMARK.json``. Each run's last stdout line is
appended to ``.perfbench/out/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    args = ap.parse_args()

    log = os.path.join(".perfbench", "out", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in _seeds(args.seeds):
        t0 = time.monotonic()
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode} after {wall:.1f} s")
            continue
        last = json.loads(proc.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **last}) + "\n")
        shown = " ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items())
        print(f"seed {seed}: wall {wall:.1f} s correct={last['correct']} failed={last['failed']} {shown}", flush=True)
        for k, v in last["metrics"].items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        print(f"{m['name']}: median {q2:.4g} {m['unit']}, spread {(q3 - q1) / q2:.3f} (bound {m['bound']}, n={len(xs)})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
