#!/usr/bin/env python3
"""Per-layer numbers of a traced run, and the tracing overhead.

`layers()` turns a traced run's span file (`spans.tsv`: id, parent, layer,
name, op, start, end in epoch ms) and Spark job intervals (`jobs.tsv`) into
per-layer metrics: for each layer its span count, self time (span time minus
its child spans) and wait (self time during which at least one Spark job
ran). Time inside an op that no span covers is the benchmark's own
(`layer.bench.*`).

As a script it compares records that run.py kept in `.bench_out/`:

    python3 perfbench/report.py [--out .bench_out] [--workload table]

prints, per workload, the median of every per-layer metric over the traced
records and the tracing overhead: traced minus untraced medians of the
end-to-end and wall-clock metrics.
"""
import argparse
import glob
import json
import os
import statistics

from inputs import PIPELINE_QUERIES

LAYERS = ("catalog", "table", "spark", "pipeline", "bench")


def union(intervals):
    out = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return out


def minus(iv, holes):
    """Parts of interval `iv` outside the (merged) `holes`."""
    s, e = iv
    out = []
    for hs, he in holes:
        if he <= s or hs >= e:
            continue
        if hs > s:
            out.append((s, hs))
        s = max(s, he)
    if s < e:
        out.append((s, e))
    return out


def overlap(parts, busy):
    return sum(max(0.0, min(e, be) - max(s, bs)) for s, e in parts for bs, be in busy)


def read_tsv(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [l.rstrip("\n").split("\t") for l in f if l.strip()]


def layers(work, res):
    spans = [dict(id=int(r[0]), parent=int(r[1]), layer=r[2], name=r[3], op=int(r[4]),
                  s=float(r[5]), e=float(r[6])) for r in read_tsv(f"{work}/spans.tsv")]
    busy = union([(float(a), float(b)) for a, b in read_tsv(f"{work}/jobs.tsv")])
    ops = res["ops"]
    spans = [s for s in spans if 0 <= s["op"] < len(ops)]
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    agg = {l: [0, 0.0, 0.0] for l in LAYERS}
    for s in spans:
        self_parts = minus((s["s"], s["e"]), union((c["s"], c["e"]) for c in children.get(s["id"], [])))
        a = agg.setdefault(s["layer"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += sum(e - b for b, e in self_parts)
        a[2] += overlap(self_parts, busy)
    coverage, bench_share, driver_only = [], [], 0.0
    for i, o in enumerate(ops):
        iv = (o["start_ms"], o["end_ms"])
        dur = iv[1] - iv[0]
        top = union((s["s"], s["e"]) for s in spans if s["op"] == i and s["parent"] == -1)
        free = minus(iv, top)
        own = sum(e - b for b, e in free)
        agg["bench"][0] += 1
        agg["bench"][1] += own
        agg["bench"][2] += overlap(free, busy)
        driver_only += dur - overlap([iv], busy)
        if dur > 0:
            coverage.append(1 - own / dur)
            bench_share.append(own / dur)
    out = {}
    for l in LAYERS:
        c, self_ms, wait_ms = agg[l]
        out[f"layer.{l}.count"] = (c, "count")
        out[f"layer.{l}.self_ms"] = (self_ms, "ms")
        out[f"layer.{l}.wait_ms"] = (wait_ms, "ms")
    out["trace.span_coverage_min"] = (min(coverage, default=0.0), "ratio")
    out["trace.bench_self_share_max"] = (max(bench_share, default=0.0), "ratio")

    lay, w = res["layers"], res["window"]
    g = lambda k: lay.get(k, 0)
    for k, unit in (("catalog.load_calls", "count"), ("catalog.load_ms", "ms"),
                    ("catalog.update_calls", "count"), ("catalog.update_ms", "ms"),
                    ("catalog.conflicts", "count"), ("table.live_manifests", "count"),
                    ("table.live_data_files", "count"), ("table.live_delete_files", "count"),
                    ("table.maintenance_ms", "ms"), ("table.manifests_time_travel", "count"),
                    ("spark.scan_plan_ms", "ms"),
                    ("spark.scan_exec_ms", "ms"), ("spark.delete_files_applied", "count"),
                    ("spark.write_ms", "ms"), ("spark.files_written", "count"),
                    ("spark.mv_refresh_ms", "ms"), ("spark.mv_incremental_ratio", "ratio")):
        out[k] = (g(k), unit)
    uncached = w["manifest_reads_uncached"]
    requested = g("table.manifests_requested")
    out["table.manifest_reads_uncached"] = (uncached, "count")
    out["table.manifest_cache_hit_ratio"] = (
        max(0.0, 1 - uncached / requested) if requested else 0.0, "ratio")
    selective = sum(o["kind"] == "selective" for o in ops)
    out["spark.files_scanned"] = (g("spark.files_scanned") / selective if selective else 0.0,
                                  "count")
    live = g("spark.live_files_selective")
    out["spark.prune_ratio"] = (g("spark.files_scanned") / live if live else 0.0, "ratio")
    out["spark.bytes_written"] = (w["bytes_written"], "bytes")
    for q in PIPELINE_QUERIES:
        runs = [o for o in ops if o["name"] == q]
        out[f"pipeline.{q}.wall_ms"] = (
            statistics.median([o["end_ms"] - o["start_ms"] for o in runs]) if runs else 0.0, "ms")
        out[f"pipeline.{q}.cpu_s"] = (
            statistics.median([o.get("cpu_s", 0.0) for o in runs]) if runs else 0.0, "s")
    out["engine.jobs"] = (w["jobs"], "count")
    out["engine.tasks"] = (w["tasks"], "count")
    out["engine.job_busy_ms"] = (
        overlap([(w["start_ms"], w["end_ms"])], busy), "ms")
    out["engine.shuffle_write_bytes"] = (w["shuffle_write_bytes"], "bytes")
    out["engine.spill_bytes"] = (w["spill_bytes"], "bytes")
    out["engine.gc_ms"] = (w["gc_ms"], "ms")
    out["driver.only_ms"] = (driver_only, "ms")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), ".bench_out"))
    ap.add_argument("--workload")
    args = ap.parse_args()
    recs = [json.load(open(p)) for p in sorted(glob.glob(f"{args.out}/*.json"))]
    for wl in sorted({r["workload"] for r in recs}):
        if args.workload and wl != args.workload:
            continue
        traced = [r for r in recs if r["workload"] == wl and r["trace"] == 1]
        plain = [r for r in recs if r["workload"] == wl and r["trace"] == 0]
        print(f"== {wl}: {len(plain)} untraced, {len(traced)} traced records")
        med = lambda rs, part, k: statistics.median(r[part][k][0] for r in rs)
        if traced:
            for k in traced[0]["per_layer"]:
                print(f"  {k:44s} {med(traced, 'per_layer', k):14.4f} "
                      f"{traced[0]['per_layer'][k][1]}")
        if traced and plain:
            print("  tracing overhead (traced - untraced median):")
            for part in ("end_to_end", "wall"):
                for k, (_, unit) in plain[0][part].items():
                    t, u = med(traced, part, k), med(plain, part, k)
                    if u:
                        print(f"  {k:44s} {t - u:+14.4f} {unit} ({(t - u) / u:+.1%})")


if __name__ == "__main__":
    main()
