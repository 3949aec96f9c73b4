"""Seeded TPC-H-shaped fixture tables and DuckDB oracle answers.

The tables carry exactly the columns the `MedallionQueries` adapters
read, with the value domains of the repository's sf fixtures: 150k
customers, 1.5M orders and ~6M lineitems per unit of scale. Every value
is a pure function of (seed, key) and rows are in key order, so one seed
always yields the same inputs.
"""
import json
import os

import duckdb

TABLES = ("customer", "orders", "lineitem")


def sizes(sf: float) -> dict:
    return {
        "customer": max(150, int(150_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
    }


def generate(out_dir: str, sf: float, seed: int) -> dict:
    """Write the TABLES as parquet under out_dir; returns their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = sizes(sf)
    s = int(seed)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    con.execute("SET preserve_insertion_order = true")

    def u(m, *parts):
        """Uniform integer in [0, m) drawn from (seed, parts)."""
        return f"CAST(hash({s}, {', '.join(str(p) for p in parts)}) % {m} AS BIGINT)"

    def write(name, select):
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")

    write("customer", f"""
        SELECT range AS c_custkey,
               CAST({u(1099985, 'range', 1)} - 99985 AS DOUBLE) / 100
                 AS c_acctbal
        FROM range({n['customer']})""")
    write("orders", f"""
        SELECT range AS o_orderkey,
               {u(n['customer'], 'range', 2)} AS o_custkey,
               ['O', 'F', 'P'][1 + {u(3, 'range', 3)}]
                 AS o_orderstatus,
               CAST(100191 + {u(50000000, 'range', 4)} AS DOUBLE) / 100
                 AS o_totalprice
        FROM range({n['orders']})""")
    write("lineitem", f"""
        WITH o AS (SELECT range AS k,
                          1 + {u(7, 'range', 5)} AS lines
                   FROM range({n['orders']})),
        l AS (SELECT k AS l_orderkey,
                     CAST(unnest(range(1, lines + 1)) AS INTEGER) AS l_linenumber
              FROM o)
        SELECT l_orderkey,
               {u(n['part'], 'l_orderkey', 'l_linenumber', 6)}
                 AS l_partkey,
               {u(n['supplier'], 'l_orderkey', 'l_linenumber', 7)}
                 AS l_suppkey,
               l_linenumber,
               CAST(1 + {u(50, 'l_orderkey', 'l_linenumber', 8)} AS DOUBLE)
                 AS l_quantity,
               CAST(90000 + {u(9500000, 'l_orderkey', 'l_linenumber', 9)} AS DOUBLE)
                 / 100 AS l_extendedprice,
               CAST({u(11, 'l_orderkey', 'l_linenumber', 10)} AS DOUBLE) / 100
                 AS l_discount,
               ['A', 'N', 'R'][1 + {u(3, 'l_orderkey', 'l_linenumber', 11)}] AS l_returnflag
        FROM l""")
    rows = {t: con.execute(
        f"SELECT count(*) FROM '{os.path.join(out_dir, t)}.parquet'").fetchone()[0]
        for t in TABLES}
    con.close()
    return rows


def run_oracles(fixture_dir: str, oracle_sql: dict, names, out_dir: str) -> None:
    """Run each named oracle statement over the fixture; one parquet each."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(fixture_dir, t)}.parquet'")
    for name in names:
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({oracle_sql[name]}) TO '{path}' (FORMAT PARQUET)")
    con.close()


def load_oracle_sql(path: str) -> dict:
    with open(path) as f:
        return json.load(f)
