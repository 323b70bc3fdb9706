"""Correctness gates: every output is compared with a model that runs no
graft code — DuckDB over the generated source rows and the op plan.

- table: every read's answer equals the model's at the same point of the
  op stream (or at the time-travel target); the final table scan equals the
  model of all executed ops; each MV equals its SQL run over the model and
  over the final scan.
- pipeline: every query result equals its `SparkEntry.oracleSql` run in
  DuckDB, cell by cell, as `tools/check.py` compares.
An op that throws is a problem too (and counts in `failed`).
"""
import glob
import json
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa

NOT_APPENDED = 1 << 40
COLUMNS = ("l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
           "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate")


def pred_sql(p):
    return (f"(l_shipdate >= DATE '{p['date_lo']}' AND l_shipdate < DATE '{p['date_hi']}' "
            f"AND l_partkey % {p['mod']} = {p['rem']})")


def source(con, table, ops, applied):
    """Registers the source rows as `src`, each tagged with the index of the
    op that appended it (`_a`)."""
    a = np.full(table.num_rows, NOT_APPENDED, dtype=np.int64)
    for i, op in enumerate(ops):
        if op["kind"] == "append" and i in applied:
            a[op["first"]: op["first"] + op["rows"]] = i
    con.register("src", table.append_column("_a", pa.array(a)))


def model_sql(ops, upto, applied):
    """Rows live after ops[:upto]: appended before, and not matched by any
    later delete (equality deletes mask older rows only)."""
    conds = [f"_a < {upto}"]
    for i, op in enumerate(ops[:upto]):
        if i not in applied:
            continue
        if op["kind"] == "eq_delete":
            keys = ", ".join(str(k) for k in op["keys"])
            conds.append(f"NOT (_a < {i} AND l_orderkey IN ({keys}))")
        elif op["kind"] in ("pos_delete", "dv_delete"):
            conds.append(f"NOT (_a < {i} AND {pred_sql(op['pred'])})")
    return f"SELECT {COLUMNS} FROM src WHERE " + " AND ".join(conds)


def answer_sql(rows_sql, op):
    where = ""
    if op["kind"] == "selective":
        where = (f"WHERE l_shipdate >= DATE '{op['date_lo']}' AND l_shipdate < DATE "
                 f"'{op['date_hi']}' AND l_orderkey >= {op['key_lo']} "
                 f"AND l_orderkey < {op['key_hi']}")
    return (f"SELECT count(*), coalesce(sum(CAST(l_quantity AS BIGINT)), 0) "
            f"FROM ({rows_sql}) {where}")


def differ(con, a, b):
    """Rows in one query and not the other, as a multiset difference."""
    return con.sql(f"SELECT (SELECT count(*) FROM (({a}) EXCEPT ALL ({b}))) + "
                   f"(SELECT count(*) FROM (({b}) EXCEPT ALL ({a})))").fetchone()[0]


def verify(workload, work, table, plan, res):
    """Returns a list of problems (empty when every output is right)."""
    ops = res["ops"]
    problems = [f"op {i} ({o['kind']}) failed: {o.get('error')}"
                for i, o in enumerate(ops) if not o["ok"]]
    if workload == "pipeline":
        return problems + pipeline(work, plan)
    out = os.path.join(work, "out")
    con = duckdb.connect()
    plan_ops = plan["ops"]
    applied = {i for i, o in enumerate(ops) if o["ok"]}
    source(con, table, plan_ops, applied)
    for i, (o, op) in enumerate(zip(ops, plan_ops)):
        if o["ok"] and "answer" in o:
            upto = op["step"] + 1 if op["kind"] == "time_travel" else i
            want = list(con.sql(answer_sql(model_sql(plan_ops, upto, applied), op)).fetchone())
            if o["answer"] != want:
                problems.append(f"op {i} ({op['kind']}) answered {o['answer']}, model {want}")
    con.execute(f"CREATE VIEW model AS {model_sql(plan_ops, len(ops), applied)}")
    con.execute(f"CREATE VIEW final AS SELECT {COLUMNS} FROM "
                f"read_parquet('{out}/final_scan/*.parquet')")
    n = differ(con, "SELECT * FROM final", "SELECT * FROM model")
    if n:
        problems.append(f"final scan differs from the model in {n} rows")
    for name, sql in plan["mv_sql"].items():
        mv = f"SELECT * FROM read_parquet('{out}/mv_{name}/*.parquet')"
        for base in ("model", "final"):
            n = differ(con, mv, sql.replace("FROM lineitem", f"FROM {base}"))
            if n:
                problems.append(f"MV {name} differs from its SQL over {base} in {n} rows")
    return problems


def pipeline(work, plan):
    sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
        __file__))), "tools"))
    from check import cells_equal, table_of
    con = duckdb.connect()
    for t in ("documents", "embeddings", "customer"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{work}/data/{t}.parquet'")
    out = os.path.join(work, "out")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    problems = []
    for q in plan["queries"]:
        files = sorted(glob.glob(f"{out}/{q}/*.parquet"))
        rel = con.sql(f"SELECT * FROM read_parquet({files!r})")
        sc, st = table_of(rel.fetchall(), rel.columns)
        orel = con.sql(oracle[q])
        oc, ot = table_of(orel.fetchall(), orel.columns)
        if [c.lower() for c in sc] != [c.lower() for c in oc]:
            problems.append(f"{q}: columns {sc} vs oracle {oc}")
        elif len(st) != len(ot):
            problems.append(f"{q}: {len(st)} rows vs oracle {len(ot)}")
        elif not all(cells_equal(x, y) for a, b in zip(st, ot) for x, y in zip(a, b)):
            problems.append(f"{q}: cells differ from the oracle")
    return problems
