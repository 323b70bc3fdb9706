"""Seeded inputs and op plans for the two workloads.

Everything the benchmark process receives is made here from `--seed`: the
source parquet files, the op sequence (batch order, delete keys and
predicates, scan predicates, time-travel targets, query order) and, for the
model checks, the rows each batch holds (`first`, `rows`). The same seed gives the same files
and plan.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per scale: "bench" is what the timed runs use, "smoke" is the
# benchmark's own test.
SCALES = {
    "bench": dict(batch_rows=1000, docs=300, vectors=300, customers=600),
    "smoke": dict(batch_rows=100, docs=60, vectors=120, customers=90),
}

# A run measures a fixed amount of work sized from --seconds at the pace of a
# 4-vCPU VM, so every run, whatever its speed, does the same work (and the
# `table` workload's table grows the same way). The `table` op mix repeats
# every CYCLE appends (41 ops), which take about CYCLE_S seconds; a
# `pipeline` round of the nine queries takes about ROUND_S seconds.
CYCLE = 12
CYCLE_S = 20
ROUND_S = 7

START = dt.date(1994, 1, 1)
DAYS = 730  # two years of ship dates: 24 monthly partitions

LINEITEM = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()), ("l_shipdate", pa.date32()),
])

MV_SQL = {
    "agg": "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty "
           "FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "filter": "SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate "
              "FROM lineitem WHERE l_discount >= 0.08",
}

# The SparkEntry queries the pipeline workload times: both sides of the
# spread-width heuristic (q48, q58 gained from it; q20, q46, q112 lost) and
# the kernels open work targets (similarity join q77, fuzzy join q86,
# NB quality q114, ANN q117). Each is compiled cold once per run, which
# bounds how many fit the run budget.
PIPELINE_QUERIES = [
    "q86_fuzzy_join", "q77_jaccard_join", "q117_pq_ann", "q114_nb_quality",
    "q48_repetition", "q58_pii_redaction", "q20_text_stats", "q46_topk_quality",
    "q112_c4_line_filter",
]


def lineitem(rng, rows):
    """Lineitem-shaped rows sorted by ship date (arrival order)."""
    orders = rows // 3 + 1  # ~4 lines per order: more lines than rows, thinned below
    odate = np.sort(rng.integers(0, DAYS - 60, orders))
    nlines = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(1, orders + 1, dtype=np.int64), nlines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines]).astype(np.int32)
    ship = np.repeat(odate, nlines) + rng.integers(1, 61, okey.size)
    n = okey.size
    part = rng.integers(1, 20001, n).astype(np.int64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * (900 + part % 1000) / 10, 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    cutoff = DAYS * 2 // 3
    rflag = np.where(ship < cutoff, np.where(rng.random(n) < 0.5, "R", "A"), "N")
    lstatus = np.where(ship < cutoff, "F", "O")
    order = np.lexsort((lnum, okey, ship))
    order = order[np.sort(rng.choice(n, rows, replace=False))]
    dates = np.array([START + dt.timedelta(days=int(d)) for d in range(DAYS + 61)])
    return pa.table({
        "l_orderkey": okey[order], "l_partkey": part[order],
        "l_suppkey": rng.integers(1, 1001, n)[order].astype(np.int64),
        "l_linenumber": lnum[order], "l_quantity": qty[order],
        "l_extendedprice": price[order], "l_discount": disc[order], "l_tax": tax[order],
        "l_returnflag": rflag[order], "l_linestatus": lstatus[order],
        "l_shipdate": pa.array(dates[ship[order]], pa.date32()),
    }, schema=LINEITEM)


def write_batches(work, table, sizes):
    """Splits `table` into consecutive batches; returns their plan entries."""
    os.makedirs(os.path.join(work, "batches"), exist_ok=True)
    out, at = [], 0
    for i, n in enumerate(sizes):
        rel = f"batches/b{i:05d}.parquet"
        pq.write_table(table.slice(at, n), os.path.join(work, rel))
        out.append({"file": rel, "bytes": os.path.getsize(os.path.join(work, rel)),
                    "first": at, "rows": n})
        at += n
    return out


def predicate(rng, hi_day):
    """Two ship-date weeks ending near the newest appended data, one partkey class."""
    lo = max(0, hi_day - int(rng.integers(14, 60)))
    return {"date_lo": str(START + dt.timedelta(days=lo)),
            "date_hi": str(START + dt.timedelta(days=lo + 14)),
            "mod": 7, "rem": int(rng.integers(0, 7))}


READS = ["selective", "full", "selective", "time_travel"]


def read(rng, kind, day, keys, end, commits):
    """A read of the rows appended so far (`end` rows): selective (a month of
    ship dates and the middle half of the orders shipping then), full, or
    time travel to a uniformly chosen earlier commit."""
    if kind == "time_travel" and commits:
        return {"kind": "time_travel", "step": int(rng.choice(commits))}
    if kind != "selective":
        return {"kind": "full"}
    lo = int(rng.integers(0, max(1, day[end - 1] - 30)))
    shipping = keys[:end][(day[:end] >= lo) & (day[:end] < lo + 30)]
    klo, khi = np.percentile(shipping if shipping.size else keys[:end], [25, 75]).astype(int)
    return {"kind": "selective", "date_lo": str(START + dt.timedelta(days=lo)),
            "date_hi": str(START + dt.timedelta(days=lo + 30)),
            "key_lo": int(klo), "key_hi": int(khi)}


def table_ops(rng, table, batches):
    """Appends in ship-date order, and after append n of each 12-append cycle:
    a delete when n is 2, 6 or 10 (equality, position, deletion vector);
    both MV refreshes when n is even, so refreshes alternate between windows
    with a delete (full recompute) and append-only windows (incremental);
    maintenance when n is 6 or 12 (`rewrite_manifests`, `convert_eq_deletes`);
    a read after every append (selective, full, selective, time travel in
    turn). The seed picks the data, delete keys and predicates, read
    predicates and time-travel targets; the op mix is the same for every
    seed."""
    ops, commits = [], []
    day = (table.column("l_shipdate").to_numpy() - np.datetime64(START, "D")).astype(int)
    keys = table.column("l_orderkey").to_numpy()
    deletes = {2: "eq_delete", 6: "pos_delete", 10: "dv_delete"}
    maintenance = {6: "rewrite_manifests", 0: "convert_eq_deletes"}
    for n, b in enumerate(batches, start=1):
        end = b["first"] + b["rows"]
        commits.append(len(ops))
        ops.append({"kind": "append", **b})
        kind = deletes.get(n % CYCLE)
        if kind:
            commits.append(len(ops))
            if kind == "eq_delete":
                ks = sorted({int(k) for k in rng.choice(keys[max(0, end - 5000): end], 20)})
                ops.append({"kind": kind, "keys": ks})
            else:
                ops.append({"kind": kind, "pred": predicate(rng, int(day[end - 1]))})
        if n % 2 == 0:
            ops += [{"kind": "mv_refresh", "mv": str(mv)} for mv in rng.permutation(["agg", "filter"])]
        if n % 6 == 0:
            ops.append({"kind": "maintenance", "action": maintenance[n % CYCLE]})
        ops.append(read(rng, READS[n % len(READS)], day, keys, end, commits[:-1]))
    return ops


def table(work, rng, scale, seconds):
    s = SCALES[scale]
    n = CYCLE * max(1, round(seconds / CYCLE_S))
    sizes = [int(s["batch_rows"] * f) for f in rng.uniform(0.8, 1.2, n)]
    rows = lineitem(rng, sum(sizes))
    batches = write_batches(work, rows, sizes)
    return rows, {"mv_sql": MV_SQL, "warmup": warmup(rng, batches),
                  "ops": table_ops(rng, rows, batches)}


def warmup(rng, batches):
    """Every op kind, in three lanes that warm up side by side on throwaway
    tables before the window."""
    pred = predicate(rng, 60)
    append = [{"kind": "append", **b} for b in batches[:2]]
    refresh = [{"kind": "mv_refresh", "mv": "agg"}, {"kind": "mv_refresh", "mv": "filter"}]
    return [
        [append[0], {"kind": "eq_delete", "keys": [1, 2, 3]}, {"kind": "pos_delete", "pred": pred},
         {"kind": "dv_delete", "pred": pred},
         {"kind": "selective", "date_lo": "1994-01-01", "date_hi": "1994-02-01",
          "key_lo": 1, "key_hi": 1000},
         {"kind": "full"}, {"kind": "time_travel", "step": 0}],
        [append[0]] + refresh + [append[1]] + refresh,
        [append[0], {"kind": "eq_delete", "keys": [1, 2, 3]},
         {"kind": "maintenance", "action": "rewrite_manifests"},
         {"kind": "maintenance", "action": "convert_eq_deletes"}],
    ]


WORDS = ("key agg row scan slow fast table value part hash merge batch spark a the "
         "line sort window data column customer query order group filter small big "
         "join stream vector").split()


def pipeline(work, rng, scale, seconds):
    s = SCALES[scale]
    data = os.path.join(work, "data")
    os.makedirs(data)
    texts = []
    for i in range(s["docs"]):
        if texts and rng.random() < 0.2:  # near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, len(texts)))].split()
            for j in rng.integers(0, len(toks), max(1, len(toks) // 10)):
                toks[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(toks))
    langs = ["en", "en", "en", "de", "es", "fr", "zh"]
    pq.write_table(pa.table({
        "doc_id": np.arange(len(texts), dtype=np.int64), "text": texts,
        "lang": [langs[k] for k in rng.integers(0, len(langs), len(texts))],
        "source": [f"src{k}" for k in rng.integers(0, 20, len(texts))],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        os.path.join(data, "documents.parquet"))
    centers = rng.normal(0, 0.15, (16, 64))
    label = rng.integers(0, 16, s["vectors"])
    vecs = (centers[label] + rng.normal(0, 0.05, (s["vectors"], 64))).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": np.arange(s["vectors"], dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32)}), os.path.join(data, "embeddings.parquet"))
    n = s["customers"]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    pq.write_table(pa.table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n), 2),
        "c_mktsegment": [segs[k] for k in rng.integers(0, 5, n)]}),
        os.path.join(data, "customer.parquet"))
    rounds = max(1, round(seconds / ROUND_S))
    ops = [{"kind": "query", "name": str(q)}
           for _ in range(rounds) for q in rng.permutation(PIPELINE_QUERIES)]
    return None, {"queries": PIPELINE_QUERIES, "ops": ops}


def make(workload, work, seed, scale, seconds):
    """Writes the inputs and `plan.json` under `work`; returns the source
    rows (`table` workload) for the model checks, and the plan."""
    rng = np.random.default_rng(seed)
    rows, plan = {"table": table, "pipeline": pipeline}[workload](work, rng, scale, seconds)
    with open(os.path.join(work, "plan.json"), "w") as f:
        json.dump(plan, f)
    return rows, plan
