"""Seeded inputs of the benchmark, written by DuckDB as parquet.

Every value is DuckDB's hash of (seed, salt, row key), so a seed gives the
same files on every run. The tables carry the schemas the `SparkEntry`
queries read (the star schema and embeddings), one parquet file each, with
naive timestamps like the reference data.
"""
import os

import duckdb

def _lst(values):
    return "[" + ", ".join("'%s'" % v for v in values) + "]"


class Gen:
    def __init__(self, seed):
        self.seed = seed
        self.con = duckdb.connect()
        self.con.sql("SET threads = 2")

    def u(self, salt, n, *keys):
        """Uniform integer in [0, n)."""
        return "(hash(%d, %d, %s) %% %d)::BIGINT" % (self.seed, salt, ", ".join(keys), n)

    def f(self, salt, *keys):
        """Uniform double in [0, 1)."""
        return "((hash(%d, %d, %s) %% 1000000007)::DOUBLE / 1000000007.0)" % (
            self.seed, salt, ", ".join(keys))

    def pick(self, salt, values, *keys):
        return "%s[%s + 1]" % (_lst(values), self.u(salt, len(values), *keys))

    def _copy(self, sql, path):
        self.con.sql(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
        return self.con.sql(f"SELECT count(*) FROM '{path}'").fetchone()[0]

    def star(self, out, sf):
        """Star schema at scale factor sf (lineitem ~ 6M*sf rows); returns
        rows per table."""
        n_cust, n_supp = int(150000 * sf), max(10, int(10000 * sf))
        n_part, n_ord = int(200000 * sf), int(1500000 * sf)
        u, f, pick = self.u, self.f, self.pick
        tables = {
            "region": "SELECT k::INT AS r_regionkey, %s[k + 1] AS r_name FROM range(5) t(k)"
                      % _lst(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
            "nation": "SELECT k::INT AS n_nationkey, 'NATION_' || k AS n_name, "
                      "(k % 5)::INT AS n_regionkey FROM range(25) t(k)",
            "customer": f"SELECT k AS c_custkey, format('Customer#{{:09d}}', k) AS c_name, "
                        f"{u(1, 25, 'k')}::INT AS c_nationkey, "
                        f"round({f(2, 'k')} * 10998.99 - 999.99, 2) AS c_acctbal, "
                        f"{pick(3, ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'k')}"
                        f" AS c_mktsegment FROM range({n_cust}) t(k)",
            "supplier": f"SELECT k AS s_suppkey, format('Supplier#{{:09d}}', k) AS s_name, "
                        f"{u(4, 25, 'k')}::INT AS s_nationkey, "
                        f"round({f(5, 'k')} * 10998.99 - 999.99, 2) AS s_acctbal "
                        f"FROM range({n_supp}) t(k)",
            "part": f"SELECT k AS p_partkey, "
                    f"{pick(6, ['small', 'large', 'cold', 'hot', 'shiny', 'dull'], 'k')} || ' ' || "
                    f"{pick(7, ['widget', 'gadget', 'bolt', 'gear', 'valve'], 'k')} AS p_name, "
                    f"'Brand#' || ({u(8, 25, 'k')} + 1) AS p_brand, "
                    f"{pick(9, ['ECONOMY', 'STANDARD', 'PROMO', 'LARGE', 'SMALL'], 'k')} AS p_type, "
                    f"({u(10, 50, 'k')} + 1)::INT AS p_size, "
                    f"round(900.0 + (k % 2000) / 10.0, 2) AS p_retailprice FROM range({n_part}) t(k)",
            "orders": f"SELECT k AS o_orderkey, {u(11, n_cust, 'k')}::BIGINT AS o_custkey, "
                      f"{pick(12, ['F', 'O', 'P'], 'k')} AS o_orderstatus, "
                      f"round({f(13, 'k')} * 499000.0 + 1000.0, 2) AS o_totalprice, "
                      f"TIMESTAMP '1992-01-01' + to_days({u(14, 2500, 'k')}::INT) AS o_orderdate, "
                      f"{pick(15, ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'k')}"
                      f" AS o_orderpriority FROM range({n_ord}) t(k)",
        }
        rows = {t: self._copy(sql, os.path.join(out, f"{t}.parquet")) for t, sql in tables.items()}
        o, l = "o.o_orderkey", "ln"
        lineitem = (
            f"SELECT {o} AS l_orderkey, {u(17, n_part, o, l)}::BIGINT AS l_partkey, "
            f"{u(18, n_supp, o, l)}::BIGINT AS l_suppkey, ln::INT AS l_linenumber, "
            f"({u(19, 50, o, l)} + 1)::DOUBLE AS l_quantity, "
            f"round({f(20, o, l)} * 104000.0 + 900.0, 2) AS l_extendedprice, "
            f"{u(21, 11, o, l)}::DOUBLE / 100.0 AS l_discount, "
            f"{u(22, 9, o, l)}::DOUBLE / 100.0 AS l_tax, "
            f"{pick(23, ['R', 'A', 'N'], o, l)} AS l_returnflag, "
            f"{pick(24, ['O', 'F'], o, l)} AS l_linestatus, "
            f"o.o_orderdate + to_days(({u(25, 121, o, l)} + 1)::INT) AS l_shipdate "
            f"FROM '{out}/orders.parquet' o, "
            f"LATERAL (SELECT unnest(range(1, {u(16, 7, o)}::INT + 2)) AS ln) "
            f"ORDER BY l_orderkey, l_linenumber")
        rows["lineitem"] = self._copy(lineitem, os.path.join(out, "lineitem.parquet"))
        return rows

    def orders_csv(self, out):
        """The orders table as a CSV whose columns exercise the smart
        caster: integers, strings, US-thousands currency, percents, yes/no."""
        os.makedirs(os.path.join(out, "orders_csv"))
        cents = "round(o_totalprice * 100)::BIGINT"
        self.con.sql(
            f"COPY (SELECT o_orderkey, o_custkey, o_orderstatus, "
            f"'$' || format('{{:,}}', {cents} // 100) || '.' || lpad(({cents} % 100)::VARCHAR, 2, '0') "
            f"AS o_totalprice, (o_custkey % 100) || '%' AS o_share, "
            f"CASE WHEN o_orderpriority = '1-URGENT' THEN 'yes' ELSE 'no' END AS o_urgent "
            f"FROM '{out}/orders.parquet') TO '{out}/orders_csv/part-0.csv' (HEADER)")
        return self.con.sql(f"SELECT count(*) FROM '{out}/orders.parquet'").fetchone()[0]

    def embeddings(self, out, n):
        """64-dim float vectors around one of 10 label centroids."""
        label = self.u(40, 10, "v")
        sql = (f"SELECT v AS vec_id, list_transform(range(64), i -> "
               f"(({self.f(41, label, 'i')} - 0.5) * 0.4 + ({self.f(42, 'v', 'i')} - 0.5) * 0.3)::FLOAT)"
               f" AS embedding, {label}::INT AS label FROM range({n}) t(v) ORDER BY vec_id")
        return self._copy(sql, os.path.join(out, "embeddings.parquet"))

    def batch(self, path, day, rows, update_of=None):
        """One ingest batch of the Delta workload: ids day*10^6 + i. An
        update batch rewrites the values of half its rows' ids, drawn from
        the days in update_of, and adds as many new ids."""
        if update_of is None:
            key = f"{day} * 1000000 + i AS id, {day} AS day"
        else:
            days = "[" + ", ".join(str(d) for d in update_of) + "]"
            old = f"{days}[{self.u(50, len(update_of), str(day), 'i')} + 1]"
            key = (f"CASE WHEN i >= {rows // 2} THEN {day} * 1000000 + i "
                   f"ELSE {old} * 1000000 + 2 * i END AS id, "
                   f"CASE WHEN i >= {rows // 2} THEN {day} ELSE {old} END AS day")
        sql = (f"SELECT {key}, {self.u(52, 1000, str(day), 'i')}::INT AS k, "
               f"round({self.f(53, str(day), 'i')} * 1000.0, 3) AS v, "
               f"'s' || {self.u(54, 100000, str(day), 'i')} AS s FROM range({rows}) t(i)")
        return self._copy(sql, path)


def delta_plan(cycles, batch_rows):
    """The commit sequence of one delta_ingest pass, with reads between the
    writes: a creating append (version 0), then `cycles` cycles of ten
    commits (appends, a key upsert, a predicate delete, an optimize) whose
    tenth lands on a checkpoint version (DeltaLog's default interval is
    10), so every cycle holds one checkpointing commit."""
    steps = [{"op": "append", "kind": "create", "version": 0, "day": 0}]
    appended, day = [0], 0
    for c in range(cycles):
        for j in range(1, 11):
            v = 10 * c + j
            if j == 3:
                day += 1
                steps.append({"op": "upsert", "kind": "upsert", "version": v, "day": day,
                              "of": appended[-3:], "key": "id"})
            elif j == 5:
                steps.append({"op": "delete", "kind": "delete", "version": v,
                              "predicate": f"day = {appended[-2]} AND k < 300"})
            elif j == 9:
                steps.append({"op": "optimize", "kind": "optimize", "version": v})
            else:
                day += 1
                appended.append(day)
                steps.append({"op": "append", "version": v, "day": day,
                              "kind": "append_checkpoint" if j == 10 else "append"})
            if j in (4, 10):
                steps.append({"op": "read", "kind": "read_latest", "at": v, "version": None,
                              "predicate": f"day >= {appended[-1] - 1}"})
            elif j == 6:
                steps.append({"op": "read", "kind": "time_travel", "at": v, "version": v - 4,
                              "predicate": None})
            elif j == 8:
                steps.append({"op": "snapshot", "kind": "snapshot", "at": v})
    for s in steps:
        if "day" in s:
            s["batch"] = f"batches/day{s['day']}.parquet"
            s["rows"] = batch_rows
    return steps
