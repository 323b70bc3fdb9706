#!/usr/bin/env python3
"""Old-vs-new SAME-BOX bench A/B (VERDICT r16 #1).

The round-over-round CPU gate (tools/benchdiff.py) cannot tell "the box
moved" from "the code regressed": this box carries uniform 1.1-1.4x
bands that the /proc foreign-share accounting does not see (memory
bandwidth, page-cache state), and r16's 1.30 CPU geomean vs r15 was
adjudicated as box-state only via probe numbers narrated in SURVEY
prose.  This script makes that adjudication a committed, machine-checkable
artifact:

  1. checks OLD (a commit-ish, e.g. the previous round's official bench
     commit) out into a detached scratch git worktree;
  2. compiles BOTH trees up front (never concurrently with a timed run);
  3. pre-warms the page cache, then runs graft.Bench ALTERNATING
     old/new/old/new on the same box within the same minutes;
  4. writes BENCH_ab.json: per-side per-query CPU medians, the common-query
     CPU geomean ratio (new/old), wall ditto, box state and taint flags
     per run.

Reading the artifact: cpu_geomean_new_over_old ~ 1.0 means old==new on
today's box -- any round-over-round inflation is box-state, and the A/B
anchors the next benchdiff.  A ratio well above 1.0 on a quiet box is a
REAL regression; the per-query table names the movers.

Each tree's Bench main writes its BENCH_*.json into its own checkout (the
working directory it runs in), so each run's record is snapshotted
immediately and this checkout's committed records are restored from git
afterwards.

Usage: python3 tools/benchab.py OLD_COMMIT [--runs 2] [--sf /root/testdata/sf0.1] [--cpus 32]
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

# the checkout this script lives in (tools/ is one level below its root)
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKTREE = "/tmp/benchab_old"
RECORDS = ["BENCH_full.json", "BENCH_tainted.json", "BENCH_only.json"]


def sh(cmd, cwd=REPO, check=True, capture=False):
    print("+ " + " ".join(cmd), flush=True)
    r = subprocess.run(cmd, cwd=cwd, check=check,
                       stdout=subprocess.PIPE if capture else None,
                       stderr=subprocess.STDOUT if capture else None)
    return r.stdout.decode() if capture else None


def load1m():
    return float(open("/proc/loadavg").read().split()[0])


def run_bench(tree, sf, cpus, label):
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf, SPARK_GRAFT_CPUS=str(cpus))
    t0 = time.time()
    print(f"=== bench run: {label} (load {load1m():.2f}) ===", flush=True)
    r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"], cwd=tree,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    out = r.stdout.decode()
    if r.returncode != 0:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"bench run {label} failed")
    # the summary line names the record file this run routed to; sbt's
    # forked-run logger prefixes every relayed line ('[info] {...}'), so
    # match by substring, never by line start
    summary = None
    for line in out.splitlines():
        idx = line.find('{"metric"')
        if idx >= 0:
            summary = json.loads(line[idx:])
    if summary is None:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"bench run {label}: no summary JSON line")
    rec = json.load(open(summary["queries_file"]))
    rec["_label"] = label
    rec["_wall_clock_sec"] = round(time.time() - t0, 1)
    print(f"    total {rec['value']}s wall, {rec.get('cpu_total_sec')}s cpu, "
          f"tainted={rec['box']['tainted']}", flush=True)
    return rec


def side_medians(recs, field):
    """Per-query median across a side's runs (median of in-run medians).
    Keys come from the UNION of the side's runs so a query that errored in
    one run still contributes its other runs instead of vanishing silently."""
    keys = set()
    for r in recs:
        keys |= set(r.get(field, {}))
    out = {}
    for q in keys:
        vals = [r[field][q] for r in recs if q in r.get(field, {})]
        if vals:
            out[q] = statistics.median(vals)
    return out


def geomean(ratios):
    return math.exp(sum(math.log(x) for x in ratios) / len(ratios)) if ratios else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("old_commit")
    ap.add_argument("--runs", type=int, default=2, help="runs per side, alternating")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH_ab.json"))
    ap.add_argument("--settle", type=int, default=240,
                    help="seconds to idle between runs so each run's "
                         "load_start decays below the taint threshold")
    ap.add_argument("--warmup", action="store_true", default=True,
                    help="one DISCARDED old-tree run first: the first bench "
                         "after compilation absorbs JIT/page-cache warm-up "
                         "(~1.4x CPU) and would bias the old side up")
    ap.add_argument("--no-warmup", dest="warmup", action="store_false")
    args = ap.parse_args()

    new_commit = sh(["git", "rev-parse", "HEAD"], capture=True).strip()
    old_commit = sh(["git", "rev-parse", args.old_commit], capture=True).strip()
    dirty = sh(["git", "status", "--porcelain", "--untracked-files=no"], capture=True).strip()
    if dirty:
        print("WARNING: repo has uncommitted tracked changes; the NEW side "
              "benches the working tree, not exactly HEAD", flush=True)

    sh(["git", "worktree", "remove", "--force", WORKTREE], check=False)
    sh(["git", "worktree", "add", "--detach", WORKTREE, old_commit])

    # compile both trees BEFORE any timed run (compilation must never
    # overlap a bench; the old worktree gets its own target/)
    sh(["sbt", "-batch", "compile"], cwd=WORKTREE)
    sh(["sbt", "-batch", "compile"], cwd=REPO)

    # page-cache pre-warm (the committed-record protocol)
    subprocess.run(f"cat {args.sf}/*.parquet > /dev/null", shell=True, check=True)

    def settle():
        if args.settle > 0:
            print(f"    settling {args.settle}s (load {load1m():.2f})", flush=True)
            time.sleep(args.settle)

    try:
        warm = None
        if args.warmup:
            warm = run_bench(WORKTREE, args.sf, args.cpus, "warmup-discarded")
        old_recs, new_recs = [], []
        for i in range(args.runs):
            settle()
            old_recs.append(run_bench(WORKTREE, args.sf, args.cpus, f"old#{i + 1}"))
            settle()
            new_recs.append(run_bench(REPO, args.sf, args.cpus, f"new#{i + 1}"))
    finally:
        # the new side's Bench wrote this checkout's BENCH_*.json -- restore any
        # committed record (one checkout per file: a single multi-pathspec
        # checkout aborts wholesale on the first untracked name)
        for rec in RECORDS:
            sh(["git", "checkout", "--", rec], check=False)
        sh(["git", "worktree", "remove", "--force", WORKTREE], check=False)

    old_cpu = side_medians(old_recs, "cpu")
    new_cpu = side_medians(new_recs, "cpu")
    old_wall = side_medians(old_recs, "queries")
    new_wall = side_medians(new_recs, "queries")
    common = sorted(set(old_cpu) & set(new_cpu))
    floor = 0.02  # sub-20ms CPU medians are scheduler noise, not signal
    cpu_ratios = [max(new_cpu[q], floor) / max(old_cpu[q], floor) for q in common]
    wall_ratios = [max(new_wall[q], floor) / max(old_wall[q], floor)
                   for q in common if q in old_wall and q in new_wall]
    per_query = {q: {"old_cpu": old_cpu[q], "new_cpu": new_cpu[q],
                     "ratio": round(max(new_cpu[q], floor) / max(old_cpu[q], floor), 3)}
                 for q in common}
    movers = sorted(common, key=lambda q: abs(math.log(per_query[q]["ratio"])),
                    reverse=True)[:10]
    # movers carry each side's RAW per-run values: a median-of-2 is a mean,
    # so one in-suite GC/JIT hiccup reads as a fake 5x — the raw spread
    # makes outlier-vs-regression decidable from the artifact alone
    for q in movers:
        per_query[q]["old_runs"] = [r["cpu"][q] for r in old_recs if q in r.get("cpu", {})]
        per_query[q]["new_runs"] = [r["cpu"][q] for r in new_recs if q in r.get("cpu", {})]

    artifact = {
        "old_commit": old_commit,
        "new_commit": new_commit,
        "runs_per_side": args.runs,
        "sf": args.sf,
        "cpus": args.cpus,
        "alternation": "old,new repeated -- same box, same minutes",
        "cpu_geomean_new_over_old": round(geomean(cpu_ratios), 3),
        "wall_geomean_new_over_old": round(geomean(wall_ratios), 3),
        "n_common_queries": len(common),
        # both totals over the COMMON set only — an all-queries total would
        # fold query-set membership into what reads as a perf delta
        "cpu_total_old_common": round(sum(old_cpu[q] for q in common), 1),
        "cpu_total_new_common": round(sum(new_cpu[q] for q in common), 1),
        "top_movers": {q: per_query[q] for q in movers},
        "per_query": per_query,
        "runs": [{"label": r["_label"], "wall_total": r["value"],
                  "cpu_total": r.get("cpu_total_sec"), "box": r["box"]}
                 for r in ([warm] if warm else []) + old_recs + new_recs],
    }
    json.dump(artifact, open(args.out, "w"), indent=1, sort_keys=False)
    print(f"\nwrote {args.out}")
    print(f"cpu geomean new/old over {len(common)} common queries: "
          f"{artifact['cpu_geomean_new_over_old']} "
          f"(wall {artifact['wall_geomean_new_over_old']})")
    tainted = [r["_label"] for r in old_recs + new_recs if r["box"]["tainted"]]
    if tainted:
        print(f"WARNING: tainted runs: {tainted} -- re-run on a quiet box "
              "before committing this artifact")


if __name__ == "__main__":
    main()
