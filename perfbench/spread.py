#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, the evidence the bounds in
BENCHMARK.json rest on.

    python3 perfbench/spread.py --workload table --seeds 1-10 [--seconds 16]

Runs run.py once per seed (untraced), one run at a time, and prints for every
end-to-end and wall-clock metric its median and its spread: the distance between the first
and third quartile (`statistics.quantiles(values, n=4)`) as a share of the
median. Appends the summary to `.bench_out/spread.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return range(int(lo), int(hi or lo) + 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int,
                    default=json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"])
    args = ap.parse_args()
    values, walls = {}, []
    for seed in seeds(args.seeds):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(seed), "--seconds", str(args.seconds),
                            "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
        walls.append(time.time() - t0)
        if p.returncode != 0 or not json.loads(p.stdout.strip().splitlines()[-1])["correct"]:
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
        rec = json.load(open(os.path.join(
            ROOT, ".bench_out", f"{args.workload}-seed{seed}-trace0.json")))
        metrics = {**rec["end_to_end"], **rec["wall"]}
        for k, (v, _) in metrics.items():
            values.setdefault(k, []).append(v)
        print(f"seed {seed}: {walls[-1]:.1f}s foreign_cpu={rec['box']['foreign_cpu_share']:.3f} " +
              " ".join(f"{k}={v:.4g}" for k, (v, _) in rec["end_to_end"].items()), flush=True)
    summary = {"workload": args.workload, "seconds": args.seconds, "seeds": args.seeds,
               "run_wall_s": statistics.median(walls), "metrics": {}}
    for k, v in values.items():
        if not statistics.median(v):
            continue
        q1, med, q3 = statistics.quantiles(v, n=4)
        summary["metrics"][k] = {"median": statistics.median(v),
                                 "spread": (q3 - q1) / statistics.median(v)}
        print(f"  {k:28s} median {statistics.median(v):12.4f}  spread {(q3 - q1) / statistics.median(v):.3f}")
    print(f"  median run wall {summary['run_wall_s']:.1f}s")
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_out", "spread.jsonl"), "a") as f:
        f.write(json.dumps(summary) + "\n")


if __name__ == "__main__":
    main()
