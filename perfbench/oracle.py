"""DuckDB replays that check the engine's outputs in a benchmark run.

Each check recomputes, from the same seeded parquet inputs, what the
engine should have returned, and compares it with what the JVM recorded.
The taxi derivation replays `TaxiGen.fromLineitem` + `TripsTransform` for
the columns the checks read (the same derivation the engine's own DuckDB
oracle in `TaxiPipelineQueries.oracle` uses).
"""
import json

import duckdb

import gen

DERIVE = """
CREATE VIEW raw AS
SELECT
  CASE CAST(l_orderkey % 3 AS INT) WHEN 0 THEN 'yellow'
       WHEN 1 THEN 'green' ELSE 'uber' END AS cab_type,
  CASE WHEN l_partkey % 7 = 0 THEN NULL
       ELSE l_partkey % 6 + 1 END AS passenger_count,
  CAST(round(l_extendedprice) AS FLOAT) AS total_amount,
  l_shipdate + to_seconds(CAST(l_partkey % 86400 AS BIGINT))
    AS pickup_datetime,
  CASE WHEN l_orderkey % 11 = 0 THEN NULL
       ELSE l_quantity / 4.0 END AS trip_distance
FROM read_parquet('{lineitem}');
CREATE VIEW trips AS
SELECT cab_type,
  CAST(coalesce(passenger_count, 0) AS BIGINT) AS pax,
  total_amount,
  pickup_datetime,
  CAST(pickup_datetime AS DATE) AS pickup_date,
  strftime(CAST(pickup_datetime AS DATE), '%Y-%m') AS pickup_month,
  coalesce(trip_distance, 0.0) AS trip_distance
FROM raw;
"""

OLAP_SQL = {
    "q1": "SELECT cab_type, count(*) AS cnt FROM trips GROUP BY 1",
    "q2": """SELECT pax, CAST(CAST(sum(CAST(total_amount AS BIGINT)) AS BIGINT)
               AS DOUBLE) / count(*) AS avg_amount FROM trips GROUP BY 1""",
    "q3": """SELECT pax, year(pickup_date) AS yr, count(*) AS cnt
             FROM trips GROUP BY 1, 2""",
    "q4": """SELECT pax, year(pickup_date) AS yr, round(trip_distance) AS dist,
               count(*) AS cnt FROM trips GROUP BY 1, 2, 3""",
}


def _num(x, digits):
    if isinstance(x, bool) or x is None or isinstance(x, str):
        return x
    if isinstance(x, (int, float)):
        return round(float(x), digits)
    if isinstance(x, list):
        return [_num(v, digits) for v in x]
    return str(x)


def same_rows(got, want, tol=1e-6) -> bool:
    """Order-free row comparison; numbers equal within `tol` (absolute,
    scaled up for large magnitudes)."""
    if len(got) != len(want):
        return False
    key = lambda r: json.dumps(_num(list(r), 2), default=str)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                    and not isinstance(a, bool):
                if abs(float(a) - float(b)) > tol * max(1.0, abs(float(b))):
                    return False
            elif a != b and str(a) != str(b):
                return False
    return True


def taxi_con(in_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for stmt in DERIVE.format(lineitem=f"{in_dir}/lineitem.parquet").split(";"):
        if stmt.strip():
            con.execute(stmt)
    return con


def load_expected(con) -> list:
    return [list(r) for r in con.execute(
        """SELECT pickup_month AS month, count(*) AS cnt,
             CAST(sum(CAST(total_amount AS BIGINT)) AS BIGINT) AS amount,
             CAST(sum(pax) AS BIGINT) AS pax
           FROM trips GROUP BY 1""").fetchall()]


def olap_expected(con, key: str) -> list:
    if key.startswith("range:"):
        _, lo, hi = key.split(":")
        sql = f"""SELECT count(*) AS cnt,
                   CAST(sum(CAST(total_amount AS BIGINT)) AS BIGINT) AS amount
                 FROM trips
                 WHERE pickup_datetime >= TIMESTAMP '{lo}-01 00:00:00'
                   AND pickup_datetime < TIMESTAMP '{hi}-01 00:00:00'"""
    else:
        sql = OLAP_SQL[key.replace("sql_", "")]
    return [list(r) for r in con.execute(sql).fetchall()]


def dml_expected(in_dir: str, commits: list) -> list:
    """Replay the commit list on the seeded `orders` table and return the
    per-month count and price sum the engine's read computes."""
    src = f"read_parquet('{in_dir}/orders.parquet')"
    cols = lambda price, key: f"""{key} AS o_orderkey, o_custkey,
        o_orderstatus, {price} AS o_totalprice, o_orderdate, o_orderpriority,
        strftime(o_orderdate, '%Y-%m') AS order_month"""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"CREATE TABLE t AS SELECT {cols('o_totalprice', 'o_orderkey')}"
                f" FROM {src}")
    for op in commits:
        k = op["kind"]
        if k == "update":
            con.execute(f"""UPDATE t SET o_totalprice = o_totalprice + {op['delta']}
                WHERE o_orderkey % 7 <> 0
                  AND o_orderkey % {op['mod']} = {op['res']}""")
        elif k == "delete":
            con.execute(f"""DELETE FROM t WHERE o_orderkey < 1000000
                AND o_orderkey % {gen.DELETE_MOD} = {7 * op['cls']}""")
        elif k == "insert":
            con.execute(f"""INSERT INTO t SELECT
                {cols(f"o_totalprice + {op['delta']}",
                      f"o_orderkey + {op['key_base']}")}
                FROM {src} WHERE o_orderkey % {op['mod']} = {op['res']}""")
        elif k == "merge":
            m, r = op["mod"], op["res"]
            con.execute(f"""CREATE OR REPLACE TEMP TABLE s AS
                SELECT {cols(f"o_totalprice + {op['delta']}", "o_orderkey")}
                FROM {src} WHERE o_orderkey % 7 <> 0 AND o_orderkey % {m} = {r}
                UNION ALL
                SELECT {cols("o_totalprice", f"o_orderkey + {op['key_base']}")}
                FROM {src} WHERE o_orderkey % {m} = {(r + 1) % m}""")
            con.execute("""UPDATE t SET o_custkey = s.o_custkey,
                  o_orderstatus = s.o_orderstatus,
                  o_totalprice = s.o_totalprice, o_orderdate = s.o_orderdate,
                  o_orderpriority = s.o_orderpriority,
                  order_month = s.order_month
                FROM s WHERE t.o_orderkey = s.o_orderkey""")
            con.execute("""INSERT INTO t SELECT * FROM s
                WHERE o_orderkey NOT IN (SELECT o_orderkey FROM t)""")
        else:
            raise ValueError(f"unknown commit kind {k}")
    rows = con.execute("""SELECT order_month, count(*) AS cnt,
        round(CAST(sum(CAST(o_totalprice AS DECIMAL(38,8))) AS DOUBLE), 4)
          AS sum_price
        FROM t GROUP BY 1""").fetchall()
    con.close()
    return [list(r) for r in rows]
