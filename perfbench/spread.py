"""Run one workload on several seeds and report, per metric, the median and
the spread (third minus first quartile, as a share of the median).

    python3 perfbench/spread.py --workload query --seeds 1-10 [--trace 1]

Each run is `perfbench/run.py` in its own process, one after another, with
`run_seconds` from BENCHMARK.json. The raw result lines are appended to
perfbench/_runs/<workload>.jsonl.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    log_dir = os.path.join(ROOT, "perfbench", "_runs")
    os.makedirs(log_dir, exist_ok=True)
    results = []
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        res["seed"], res["wall_s"] = seed, wall
        res.update(json.loads(lines[-2]))  # the workload's detail line
        results.append(res)
        with open(os.path.join(log_dir, f"{args.workload}.jsonl"), "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: {wall:.1f} s, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']}", flush=True)
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        share = (q3 - q1) / med if med else 0.0
        print(f"{name:44s} median {med:14.4f}  spread {share:7.2%}")
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in results):.1f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
