#!/usr/bin/env python3
"""Run the benchmark on several seeds and report each metric's median and
quartile spread, the figures the benchmark's bounds are judged by.

    python3 perfbench/stability.py --workload cdc_tail --seeds 1-10 [--trace 1]

Runs are sequential, each a fresh process. Every result line is appended
to ``--out`` (default ``.perfbench/stability.jsonl``) as it arrives.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def summarize(results: list[dict]) -> dict:
    names = sorted({k for r in results for k in r["metrics"]})
    table = {}
    for name in names:
        xs = [r["metrics"][name]["value"] for r in results if name in r["metrics"]]
        med = statistics.median(xs)
        table[name] = {"median": med, "spread": spread(xs) if len(xs) > 1 and med else 0.0,
                       "min": min(xs), "max": max(xs), "distinct": len(set(xs))}
    return table


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench", "stability.jsonl"))
    args = ap.parse_args(argv)
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    results = []
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(lines[-1])
        diag = next((json.loads(x)["perfbench"] for x in lines
                     if x.startswith('{"perfbench"')), {})
        results.append(result)
        with open(args.out, "a") as f:
            f.write(json.dumps({"workload": args.workload, "seed": seed, "trace": args.trace,
                                "process_wall_s": wall, **result, "diagnostics": diag}) + "\n")
        print(f"seed {seed}: {wall:.0f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                         if not k.startswith("query.")), flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, s in summarize(results).items():
        b = bounds.get(name)
        flag = "" if b is None else ("  ok" if s["spread"] <= b / 3 else
                                     ("  within bound" if s["spread"] <= b else "  OVER BOUND"))
        print(f"{name:34} median={s['median']:.6g} spread={s['spread']:.4f} "
              f"distinct={s['distinct']}{'' if b is None else f' bound={b}'}{flag}")
    return 0 if all(r["correct"] for r in results) else 1


if __name__ == "__main__":
    sys.exit(main())
