#!/usr/bin/env python3
"""Same-box benchmark of the graft table layer, Spark integration and pipeline.

    python3 perfbench/run.py --workload table|pipeline --seed N \
        --seconds S --trace 0|1 [--scale bench|smoke]

Run from the repository root. The first run builds the harness and the
repository's main sources with sbt into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run makes its inputs from the
seed under `.bench_work/`, starts one JVM (`local[nproc]`, one client
thread), checks every output against a model that runs no graft code, and
prints one JSON line last: the end-to-end metrics untraced (`--trace 0`) or
the per-layer metrics traced (`--trace 1`). The full record of the run is
kept in `.bench_out/` for `perfbench/report.py`. Exits non-zero on a wrong
output, a failed build or missing sources.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 170  # a run must end within 180 s; the build is not counted

sys.path.insert(0, HERE)


def log(msg):
    """Phase timings on stderr (stdout ends with the result line)."""
    print(f"[perfbench +{time.time() - STARTED:6.1f}s] {msg}", file=sys.stderr)


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file whose change requires a rebuild."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files]
    return sorted(out)


def build():
    """Compiles with sbt unless the stamp says the sources are unchanged;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the repository's sources (src/main/scala/graft) are not here")
    digest = hashlib.sha256()
    for p in sources():
        digest.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    if os.path.exists(cp_file) and open(stamp).read() == digest.hexdigest():
        return open(cp_file).read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"],
                            cwd=HERE, env=env, stdout=f, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    lines = open(log).read().splitlines()
    cp = [l for l in lines if "classes" in l and ".jar" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (log: {log})", 3)
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest.hexdigest())
    return cp[-1].strip()


ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, args, work, cpus):
    """Runs the benchmark JVM; returns its result record."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # fixed heap and young generation: no resizing decisions, so the peak
    # resident set follows what the run keeps live, not when the heap grew
    # temp files (native libraries Spark's codecs unpack) stay in the work
    # directory, and no perf-data file is written
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn512m", "-XX:ReservedCodeCacheSize=512m",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(cpus)])
    jvm_log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=jvm_log, stdin=subprocess.DEVNULL,
                            text=True)
    timer = threading.Timer(DEADLINE_S - (time.time() - STARTED), proc.kill)
    timer.start()
    ready = False
    try:
        for line in proc.stdout:
            if line.startswith("PERFBENCH "):
                ready |= line.startswith("PERFBENCH session-ready")
                log(line.split(" ", 1)[1].strip())
        rc = proc.wait()
        log(f"benchmark JVM exited with {rc}")
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        jvm_log.close()
    result = os.path.join(work, "result.json")
    if rc != 0 or not ready or not os.path.exists(result):
        tail = open(os.path.join(work, "jvm.log")).read().splitlines()[-25:]
        sys.stderr.write("\n".join(tail) + "\n")
        fail(f"benchmark JVM exited with {rc}", 4)
    return json.load(open(result))


def pct(values, q):
    """Linear-interpolated percentile (0 for no values)."""
    if not values:
        return 0.0
    v = sorted(values)
    k = (len(v) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def end_to_end(res):
    """The bounded metrics: set-up cost, CPU cost per op and peak memory.
    CPU time is what stays put when the host steals cycles from this VM;
    wall-clock times do not, so they are reported with the layers. Set-up
    is the JVM's CPU-seconds from its start until the Spark session is up,
    plus the median CPU-seconds of the repeated fixture builds."""
    n = len(res["ops"])
    w = res["window"]
    return {
        "setup_s": (res["session_cpu_s"] + statistics.median(res["fixture_cpu_s"]), "s"),
        "cpu_ms_per_op": (w["cpu_s"] * 1000 / n, "ms"),
        "driver_cpu_ms_per_op": (w["driver_cpu_s"] * 1000 / n, "ms"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
    }


def wall(res):
    """Wall-clock throughput and latencies, overall and per op kind."""
    w = res["window"]
    elapsed = (w["end_ms"] - w["start_ms"]) / 1000
    by = {}
    for o in res["ops"]:
        by.setdefault(o["kind"], []).append(o["end_ms"] - o["start_ms"])
    every = [t for ts in by.values() for t in ts]
    deletes = by.get("eq_delete", []) + by.get("pos_delete", []) + by.get("dv_delete", [])
    lay = res["layers"]
    return {
        "ops_per_s": (len(every) / elapsed, "1/s"),
        "op_p50_ms": (pct(every, 50), "ms"),
        "op_p90_ms": (pct(every, 90), "ms"),
        # executor CPU-seconds per --seconds of window: the window is a fixed
        # amount of work, so its length follows the program's speed
        "cpu_s": (w["cpu_s"] * w["seconds"] / elapsed, "s"),
        "append_p50_ms": (pct(by.get("append", []), 50), "ms"),
        "delete_p50_ms": (pct(deletes, 50), "ms"),
        "mv_refresh_p50_ms": (pct(by.get("mv_refresh", []), 50), "ms"),
        "scan_selective_p50_ms": (pct(by.get("selective", []), 50), "ms"),
        "scan_full_p50_ms": (pct(by.get("full", []), 50), "ms"),
        "time_travel_p50_ms": (pct(by.get("time_travel", []), 50), "ms"),
        "stored_bytes_per_input_byte": (
            lay["stored_bytes"] / lay["appended_bytes"] if lay.get("appended_bytes") else 0.0,
            "ratio"),
        "error_rate": (sum(not o["ok"] for o in res["ops"]) / len(res["ops"]), "ratio"),
    }


def main():
    global STARTED
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["table", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["bench", "smoke"], default="bench")
    args = ap.parse_args()

    cp = build()
    STARTED = time.time()  # the build has its own allowance
    import checks
    import inputs
    import report

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        table, plan = inputs.make(args.workload, work, args.seed, args.scale, args.seconds)
        log("inputs made")
        cpus = len(os.sched_getaffinity(0))
        res = run_jvm(cp, args, work, cpus)
        problems = checks.verify(args.workload, work, table, plan, res)
        log("outputs checked")
        e2e = end_to_end(res)
        walls = wall(res)
        layers = report.layers(work, res) if args.trace else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for p in problems:
        print(f"perfbench: WRONG {p}", file=sys.stderr)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "scale": args.scale, "correct": not problems, "problems": problems,
              "box": {"nproc": cpus, "load_avg": res["load_avg"],
                      "foreign_cpu_share": res["foreign_cpu_share"]},
              "setup": {k: res[k] for k in ("session_cpu_s", "session_wall_s",
                                            "fixture_cpu_s", "fixture_wall_s")},
              "end_to_end": e2e, "wall": walls, "per_layer": layers}
    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)

    shown = {**e2e, **walls, **layers}
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"box: nproc={cpus} load_avg={res['load_avg']:.2f} "
          f"foreign_cpu_share={res['foreign_cpu_share']:.3f}")
    print("  " + " ".join(f"{k}={v:.6g}{u}" if u in ("ms", "s", "MB") else f"{k}={v:.6g} {u}"
                          for k, (v, u) in shown.items()))
    metrics = {**walls, **layers} if args.trace else e2e
    print(json.dumps({
        "correct": not problems,
        "attempted": len(res["ops"]),
        "failed": sum(not o["ok"] for o in res["ops"]),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    sys.exit(1 if problems else 0)


STARTED = time.time()

if __name__ == "__main__":
    main()
