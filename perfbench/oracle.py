"""Checks the outputs a run saved in its check pass against independent
formulations in DuckDB.

Each check names the saved parquet output of one op and its oracle: DuckDB
SQL over the run's input tables (the repo's oracle SQL from
`graft.SparkEntry.oracleSql`, or SQL written here), or a read of the DuckDB
model of the Delta table. Outputs are compared with the canonical hash of
`tools/check_correctness.py`: row count, column names and a hash of the
rows, sorted, with doubles rounded to 9 places.
"""
import importlib.util
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "embeddings"]


def _frame_sig():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.frame_sig


class DeltaModel:
    """The Delta table of a run as plain DuckDB DML over the same batches:
    append = INSERT, upsert = DELETE of the batch's keys + INSERT, delete =
    DELETE WHERE, optimize = nothing. `snapshot(v)` is the table after the
    commit with version v."""

    def __init__(self, con, in_dir, plan, versions):
        self.con = con
        first = os.path.join(in_dir, plan[0]["batch"])
        con.sql(f"CREATE TABLE t AS SELECT * FROM '{first}' LIMIT 0")
        for step in plan:
            op = step["op"]
            if op in ("append", "upsert"):
                src = f"'{os.path.join(in_dir, step['batch'])}'"
                if op == "upsert":
                    key = step["key"]
                    con.sql(f"DELETE FROM t WHERE {key} IN (SELECT {key} FROM {src})")
                con.sql(f"INSERT INTO t SELECT * FROM {src}")
            elif op == "delete":
                con.sql(f"DELETE FROM t WHERE {step['predicate']}")
            if op in ("read", "snapshot"):
                continue
            if step["version"] in versions:
                con.sql(f"CREATE TABLE s{step['version']} AS SELECT * FROM t")

    def read(self, version, predicate):
        where = f" WHERE {predicate}" if predicate else ""
        return self.con.sql(f"SELECT * FROM s{version}{where}")


def check(in_dir, checks, plan):
    """Returns {op id: None if the saved output matches its oracle, else the
    reason it does not}."""
    frame_sig = _frame_sig()
    con = duckdb.connect()
    con.sql("SET threads = 2")
    for t in TABLES:
        p = os.path.join(in_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    delta = [c["oracle"]["delta"] for c in checks if c["oracle"] and "delta" in c["oracle"]]
    model = None
    if delta:
        versions = {d["version"] if d["version"] is not None else d["at"] for d in delta}
        model = DeltaModel(con, in_dir, plan, versions)
    result = {}
    for c in checks:
        oracle = c["oracle"]
        if c["path"] is None:
            result[c["id"]] = "output was not saved"
            continue
        try:
            got = frame_sig(con.sql(f"SELECT * FROM '{c['path']}/*.parquet'").df())
            if "sql" in oracle:
                want = frame_sig(con.sql(oracle["sql"]).df())
            else:
                d = oracle["delta"]
                v = d["version"] if d["version"] is not None else d["at"]
                want = frame_sig(model.read(v, d["predicate"]).df())
        except Exception as e:  # a broken oracle or output is a failed check
            result[c["id"]] = f"{type(e).__name__}: {e}"[:300]
            continue
        if got == want:
            result[c["id"]] = None
        else:
            result[c["id"]] = (f"rows {got[0]} vs {want[0]}, cols {got[1]} vs {want[1]}"
                               if got[:2] != want[:2] else "row hash differs")
    return result
