"""Run the benchmark once per seed and report each end-to-end metric's
median and spread (interquartile range as a share of the median, from
``statistics.quantiles(values, n=4)``).

    python3 perfbench/spread.py --workload read --seeds 1-10 --out runs.json

Run from the repository root.  Raw results are appended to ``--out`` as
JSON lines, so two sets of runs can be compared afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(results: list[dict]) -> dict:
    out = {}
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
        out[name] = {"median": med, "spread": (q3 - q1) / med if med else float("nan"), "n": len(values)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    results = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        # per-op latencies, from the "pass <i> <op> <ms> ms" lines on stderr
        ops = [line.split()[1:4] for line in proc.stderr.splitlines() if line.startswith("pass ")]
        res.update(workload=args.workload, seed=seed, op_ms=[[int(i), op, float(ms)] for i, op, ms in ops])
        results.append(res)
        with open(args.out, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(seed, {k: round(v["value"], 3) for k, v in res["metrics"].items()}, flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name, s in summarize(results).items():
        print(f"{args.workload} {name}: median {s['median']:.4g} spread {s['spread']:.3f} bound {bounds[name]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
