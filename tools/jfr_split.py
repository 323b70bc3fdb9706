#!/usr/bin/env python3
"""Driver-sample split of a JFR recording of a perfbench run.

    python3 tools/jfr_split.py <file.jfr> [--top N] [--stack-depth D] [--by-op]

Record one with an unmodified benchmark run, for example:

    JDK_JAVA_OPTIONS="-XX:StartFlightRecording=filename=table.jfr,settings=profile \\
        -XX:FlightRecorderOptions=stackdepth=512" \\
        python3 perfbench/run.py --workload table --seed 12 --seconds 60 --trace 0

The script reads the execution samples with `jfr print --json` (the JDK's
`jfr` tool must be on PATH; only the standard library is used) and counts
only the samples inside the timed window: the span of the main-thread
samples under `perfbench.Main$.$anonfun$measure$4`. "Driver" means every
thread except Spark's `Executor task launch worker` threads.

It prints two tables of shares of the driver samples:
  - by category: the innermost frame that falls in a known Spark, Hadoop or
    Parquet area (analyzer, optimizer, planning, codegen, ...) names the
    category; a sample with no such frame is "other";
  - by graft call site: for every graft method, the share of driver samples
    with that method anywhere on the stack (inclusive, so nested call sites
    add up to more than 100 %).

With `--by-op` it prints a third table: every driver sample, on any thread,
goes to the op the main thread is running at that instant, so scheduler,
listener and cleaner threads' time has an owner. An op is the main thread's
outermost graft frame (one query of a `*.queries` registry is one op, as
is one table-layer call such as `IceWrite.append`). A main-thread sample
with no graft frame (the benchmark running the returned plan) stays in the
op of the sample before it; a driver sample takes the op of the latest
main-thread sample at or before it. An op is named by its call site; below
a query registry by the first graft call site under it, the most frequent
two when there are several (`FuzzyJoin.editDistanceJoin` for q86,
`TextOps.textStats + Tables.documents` for q20).
"""
import argparse
import bisect
import collections
import json
import subprocess
import sys
from datetime import datetime

WINDOW_FRAME = "perfbench.Main$.$anonfun$measure$4"
EXECUTOR_THREAD = "Executor task launch worker"

# (category, frame prefixes); a frame's category is the first entry whose
# prefix it starts with
CATEGORIES = [
    ("closure cleaner", ("org.apache.spark.util.ClosureCleaner",
                         "org.apache.spark.util.SparkClosureCleaner")),
    ("codegen", ("org.apache.spark.sql.catalyst.expressions.codegen.",
                 "org.codehaus.janino.", "org.codehaus.commons.")),
    ("analyzer", ("org.apache.spark.sql.catalyst.analysis.",
                  "org.apache.spark.sql.execution.datasources.DataSourceAnalysis",
                  "org.apache.spark.sql.execution.datasources.FindDataSourceTable",
                  "org.apache.spark.sql.execution.datasources.ResolveSQLOnFile")),
    ("optimizer", ("org.apache.spark.sql.catalyst.optimizer.",
                   "org.apache.spark.sql.execution.datasources.PruneFileSourcePartitions",
                   "org.apache.spark.sql.execution.datasources.V2ScanRelationPushDown",
                   "org.apache.spark.sql.execution.SparkOptimizer")),
    ("physical planning/AQE", ("org.apache.spark.sql.execution.adaptive.",
                               "org.apache.spark.sql.execution.SparkStrategies",
                               "org.apache.spark.sql.execution.SparkPlanner",
                               "org.apache.spark.sql.catalyst.planning.",
                               "org.apache.spark.sql.execution.exchange.EnsureRequirements",
                               "org.apache.spark.sql.execution.CollapseCodegenStages",
                               "org.apache.spark.sql.execution.QueryExecution$.prepareForExecution",
                               "org.apache.spark.sql.execution.datasources.FileSourceStrategy")),
    ("scheduler/RPC", ("org.apache.spark.scheduler.", "org.apache.spark.rpc.",
                       "org.apache.spark.storage.", "io.netty.")),
    ("hadoop conf", ("org.apache.hadoop.conf.",)),
    ("parquet footer", ("org.apache.parquet.",)),
    ("hadoop fs", ("org.apache.hadoop.fs.",)),
    ("avro/json", ("org.apache.avro.", "com.fasterxml.jackson.")),
    ("GC/JIT/JVM", ("jdk.internal.", "java.lang.invoke.", "java.lang.ClassLoader")),
]


def call_site(name):
    """graft.spark.IceWrite$.writeDataFiles -> IceWrite.writeDataFiles,
    graft.spark.IceWrite$DataFileTracker.processStats ->
    IceWrite.DataFileTracker.processStats
    (a lambda body counts as its enclosing method); None outside graft and
    for the JVM's synthetic lambda classes."""
    if not name.startswith("graft.") or "$$Lambda" in name:
        return None
    cls, method = name.rsplit(".", 1)
    if method.startswith("$anonfun$"):
        method = method[len("$anonfun$"):].split("$")[0]
    owner = ".".join(p for p in cls.rsplit(".", 1)[-1].split("$") if p and not p.isdigit())
    return f"{owner}.{method}"


def op_of(frames):
    """(op, call site naming it) of a main-thread sample (see the module
    doc), or None when no graft frame is on its stack. The site is None for
    a sample in a registry's query body with no graft call below it."""
    outer = [name for name in reversed(frames) if call_site(name)]
    if not outer:
        return None
    sites = []
    for site in map(call_site, outer):
        if not sites or sites[-1] != site:
            sites.append(site)
    if sites[0].endswith(".queries"):
        return outer[0], sites[1] if len(sites) > 1 else None
    return outer[0], sites[0]


def by_op(samples, lo, hi):
    """Driver samples in [lo, hi] per op of the main thread at their
    instant, how many of them are the main thread's own, and each op's
    name."""
    main = sorted((t, op_of(frames)) for t, thread, frames in samples
                  if lo <= t <= hi and thread == "main")
    none = "(before the first op)"
    times, ops, current, sites = [], [], none, collections.defaultdict(collections.Counter)
    for t, op in main:
        if op:
            current, site = op
            if site:
                sites[current][site] += 1
        times.append(t)
        ops.append(current)
    counts, own = collections.Counter(), collections.Counter()
    for t, thread, _ in samples:
        if lo <= t <= hi and not thread.startswith(EXECUTOR_THREAD):
            i = bisect.bisect_right(times, t) - 1
            op = ops[i] if i >= 0 else none
            counts[op] += 1
            own[op] += thread == "main"
    names = {op: " + ".join(site for site, _ in sites[op].most_common(2)) or call_site(op) or op
             for op in counts}
    return counts, own, names


def category(frames):
    for name in frames:
        for cat, prefixes in CATEGORIES:
            if name.startswith(prefixes):
                return cat
    return "other"


def timestamp(value):
    """JFR's ISO-8601 start time, to seconds as a float (sub-microsecond
    digits dropped)."""
    if isinstance(value, (int, float)):
        return float(value)
    text = value.replace("Z", "+00:00")
    head, _, rest = text.partition(".")
    if rest:
        digits = "".join(c for c in rest if c.isdigit())
        zone = rest[len(digits):]
        text = f"{head}.{digits[:6].ljust(6, '0')}{zone}"
    return datetime.fromisoformat(text).timestamp()


def load_samples(path, depth):
    """Yields (start time, thread name, frame names innermost first) per
    execution sample. `jfr print --json` repeats each frame's full class,
    package and module records, so a minute of samples runs to gigabytes:
    the output is streamed line by line and only the few keys this needs
    are read, by their fixed indentation in the printer's layout (the
    sample's `javaName` at 10 spaces, a frame's class `name` at 16 and its
    method `name` at 14)."""
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--stack-depth", str(depth),
         "--events", "jdk.ExecutionSample", path],
        stdout=subprocess.PIPE, text=True, bufsize=1 << 20)
    start, thread, frames, cls, in_stack = None, "", [], "", False

    def value(line):
        return json.loads(line.split(": ", 1)[1].rstrip().rstrip(","))

    for line in proc.stdout:
        if '"' not in line:
            continue
        indent = len(line) - len(line.lstrip(" "))
        key = line.strip().split('"', 2)[1]
        if key == "type" and indent == 6:
            if start is not None:
                yield start, thread, frames
            start, thread, frames, in_stack = None, "", [], False
        elif key == "startTime" and indent == 8:
            start = timestamp(value(line))
        elif key == "javaName" and indent == 10 and not in_stack:
            thread = value(line) or ""
        elif key == "stackTrace" and indent == 8:
            in_stack = True
        elif key == "name" and in_stack and indent == 16:
            cls = (value(line) or "").replace("/", ".")
        elif key == "name" and in_stack and indent == 14:
            frames.append(sys.intern(f"{cls}.{value(line)}"))
    if start is not None:
        yield start, thread, frames
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def table(title, counts, total, top):
    print(f"{title} ({total} driver samples)")
    for name, n in counts.most_common(top):
        print(f"  {100.0 * n / total:5.1f} %  {n:6d}  {name}")
    print()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("jfr")
    ap.add_argument("--top", type=int, default=25, help="call sites to print")
    ap.add_argument("--stack-depth", type=int, default=512)
    ap.add_argument("--by-op", action="store_true",
                    help="also split all driver threads' samples by the main thread's op")
    args = ap.parse_args()

    samples = list(load_samples(args.jfr, args.stack_depth))
    window = [t for t, thread, frames in samples
              if thread == "main" and WINDOW_FRAME in frames]
    if not window:
        sys.exit(f"no main-thread samples under {WINDOW_FRAME} in {args.jfr}")
    lo, hi = min(window), max(window)
    driver = [frames for t, thread, frames in samples
              if lo <= t <= hi and not thread.startswith(EXECUTOR_THREAD)]
    print(f"window {hi - lo:.1f} s; {len(driver)} driver samples, "
          f"{sum(1 for t, th, _ in samples if lo <= t <= hi and th.startswith(EXECUTOR_THREAD))} "
          f"executor samples\n")

    by_category = collections.Counter(category(frames) for frames in driver)
    table("by category", by_category, len(driver), len(CATEGORIES) + 1)

    by_site = collections.Counter()
    for frames in driver:
        by_site.update({site for site in map(call_site, frames) if site})
    table("by graft call site (inclusive)", by_site, len(driver), args.top)

    if args.by_op:
        counts, own, names = by_op(samples, lo, hi)
        print(f"by op of the main thread, all driver threads ({len(driver)} driver samples)")
        for op, n in counts.most_common(args.top):
            print(f"  {100.0 * n / len(driver):5.1f} %  {n:6d}  (main {own[op]:5d})  {names[op]}")
        print()


if __name__ == "__main__":
    main()
