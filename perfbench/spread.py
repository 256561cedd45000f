#!/usr/bin/env python3
"""Run the benchmark over several seeds and print, per metric, the
median and the inter-quartile spread as a share of the median (the
steadiness rule ``BENCHMARK.json`` bounds are checked against).

    python3 perfbench/spread.py --workload serve_full_store --seeds 1-10 --seconds 12

Each run's last JSON line is appended to ``--out`` (default
``perfbench/_out/spread-<workload>-trace<t>.jsonl``) so an interrupted
sweep keeps what it measured.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="12")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    args = ap.parse_args()
    out = Path(args.out or HERE / "_out" / f"spread-{args.workload}-trace{args.trace}.jsonl")
    out.parent.mkdir(exist_ok=True)
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.time()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            capture_output=True, text=True,
        )
        wall = time.time() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        runs.append(res)
        with out.open("a") as fh:
            fh.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        print(f"seed {seed}: {wall:.1f} s correct={res['correct']} failed={res['failed']}/{res['attempted']}")
    if len(runs) < 2:
        return 1
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        print(f"{name}: median {stats.median(vals):.6g} {runs[0]['metrics'][name]['unit']}"
              f" spread {stats.quartile_spread(vals):.3f} (n={len(vals)})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
