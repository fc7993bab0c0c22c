#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report each end-to-end
metric's median and quartile spread (IQR ÷ median) against its bound,
plus the same figures for a few ungated numbers of the detail line.

    python3 perfbench/steadiness.py --workload batch --runs 10 [--first-seed 1]

Run from the root of a checkout. Each run is a separate process, exactly
as the benchmark is normally invoked; the raw result lines are appended
to ``.perfbench/steadiness-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

# ungated numbers from the perfbench-detail line, reported for information
INFO = ("op_p50_s", "read_p50_s", "write_p50_s", "peak_rss_mb")


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {k: [] for k in (*bounds, *INFO)}
    os.makedirs(".perfbench", exist_ok=True)
    log = os.path.join(".perfbench", f"steadiness-{args.workload}.jsonl")
    for seed in range(args.first_seed, args.first_seed + args.runs):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            print(f"seed {seed}: exit {out.returncode}")
            return 1
        detail_line, line = out.stdout.strip().splitlines()[-2:]
        with open(log, "a") as f:
            f.write(detail_line + "\n" + line + "\n")
        res = json.loads(line)
        detail = json.loads(detail_line)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
        for k in bounds:
            values[k].append(res["metrics"][k]["value"])
        for k in INFO:
            values[k].append(detail[k])
    if args.runs < 4:
        return 0
    print(f"{'metric':<14}{'median':>12}{'iqr/median':>12}{'bound':>8}  within bound/3")
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med
        bound = bounds.get(k)
        verdict = "" if bound is None else str(spread < bound / 3)
        print(f"{k:<14}{med:>12.5g}{spread:>12.4f}{bound or '-':>8}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
