#!/usr/bin/env python3
"""Run the benchmark on several seeds and print each end-to-end metric's
median and quartile spread ((Q3 - Q1) / median), next to its bound.

    python3 perfbench/spread.py --workload crawl_polite --seeds 1-10 [--out runs.jsonl]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.measure import quartile_spread  # noqa: E402


def seed_list(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    p.add_argument("--out", default=None, help="append each result line here")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seed_list(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else "{}"
        res = json.loads(last)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": seed, **res}) + "\n")
        print(f"seed {seed}: exit {r.returncode} correct={res.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res.get("metrics", {}).items()),
              flush=True)
        for k, v in res.get("metrics", {}).items():
            values[k].append(v["value"])
    for m in bench["end_to_end"]:
        vs = values[m["name"]]
        if len(vs) >= 2:
            print(f"{m['name']}: median {statistics.median(vs):.4g} {m['unit']}, "
                  f"spread {quartile_spread(vs):.3f} (bound {m['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
