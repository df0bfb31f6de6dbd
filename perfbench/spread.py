"""Run the benchmark over several seeds and report each end-to-end
metric's median and quartile spread against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload index_ingest --seeds 1-10 [--out runs.jsonl]

The spread is (Q3 - Q1) / median over the runs, with quartiles from
``statistics.quantiles(values, n=4)``.  A metric is steady when its
spread is below a third of its bound; ``setup_s`` is exempt.
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
REPO = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
        wall = time.perf_counter() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        # the "# name = value unit" lines: every figure the run printed
        info = {}
        for line in lines[:-1]:
            name, eq, rest = line.removeprefix("# ").partition(" = ")
            if eq and rest.split()[0].replace(".", "", 1).isdigit():
                info[name] = float(rest.split()[0])
        res.update(seed=seed, wall=wall, info=info)
        runs.append(res)
        print(f"seed {seed}: {wall:.1f} s correct={res['correct']} failed={res['failed']}/{res['attempted']}")
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps(res) + "\n")
    for m in bench["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        spread = (q3 - q1) / med if med else float("inf")
        flag = "ok" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "WIDE"
        print(f"{m['name']:>14} median={med:.4f} {m['unit']} spread={spread:.3f} bound={m['bound']} {flag}")
    print(f"wall per run: median {statistics.median(r['wall'] for r in runs):.1f} s, max {max(r['wall'] for r in runs):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
