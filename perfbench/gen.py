"""Seeded inputs for the benchmark.

Every table the engine reads is generated here from the workload seed by
integer hashing in DuckDB, so the same seed always gives byte-for-byte the
same parquet files, and the DuckDB checks in oracle.py replay exactly the
rows the engine saw. The workload plans (query stream, DML commit list,
lane order) come from the same seed through `random.Random`.

Column names and parquet types follow the TPC-H-shaped tables the engine's
lanes are written against (`graft.Tables`).
"""
import os
import random

import duckdb

# Table sizes per workload; orders span `months` months from 1995-01.
SIZES = {
    "taxi": {"orders": 5000, "months": 24},
    "snapshot": {"orders": 6000, "months": 6},
    "ops": {"events": 10000, "documents": 500, "embeddings": 500},
}

VOCAB = ["a", "the", "key", "agg", "row", "scan", "slow", "fast", "table",
         "value", "part", "hash", "merge", "batch", "spark", "line", "sort",
         "window", "data", "column", "order", "join", "small", "big",
         "customer", "query", "filter", "group", "stream", "vector"]


def _con(seed: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    # u(i, k): a uniform integer in [0, 1e6) for row i and salt k
    con.execute(f"CREATE MACRO u(i, k) AS "
                f"CAST(hash({seed}, i, k) % 1000000 AS BIGINT)")
    return con


def _copy(con, select: str, path: str) -> None:
    con.execute(f"COPY ({select}) TO '{path}' (FORMAT PARQUET)")


def _orders_sql(n: int, months: int) -> str:
    days = months * 30
    return f"""
      SELECT CAST(i AS BIGINT) AS o_orderkey,
        CAST(u(i, 1) % {max(n // 10, 1)} AS BIGINT) AS o_custkey,
        (['O', 'F', 'P'])[1 + u(i, 2) % 3] AS o_orderstatus,
        round(1000 + u(i, 3) / 4.0, 2) AS o_totalprice,
        CAST(DATE '1995-01-01' + CAST(u(i, 4) % {days} AS INTEGER)
          AS TIMESTAMP) AS o_orderdate,
        (['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'])
          [1 + u(i, 5) % 5] AS o_orderpriority
      FROM range({n}) t(i)
      ORDER BY u(i, 6)"""


def _lineitem_sql(orders_path: str, key_offset: int) -> str:
    # 1..7 lines per order; partkey/suppkey carry a seeded offset so the
    # taxi derivation's residue classes differ from seed to seed
    return f"""
      WITH o AS (SELECT o_orderkey, o_orderdate,
          1 + u(o_orderkey, 10) % 7 AS n_lines
        FROM read_parquet('{orders_path}')),
      l AS (SELECT o_orderkey, o_orderdate,
          CAST(unnest(range(1, n_lines + 1)) AS INTEGER) AS ln FROM o)
      SELECT o_orderkey AS l_orderkey,
        CAST((u(o_orderkey * 8 + ln, 11) + {key_offset}) % 20000 AS BIGINT)
          AS l_partkey,
        CAST((u(o_orderkey * 8 + ln, 12) + {key_offset}) % 1000 AS BIGINT)
          AS l_suppkey,
        ln AS l_linenumber,
        CAST(1 + u(o_orderkey * 8 + ln, 13) % 50 AS DOUBLE) AS l_quantity,
        round((1 + u(o_orderkey * 8 + ln, 13) % 50)
          * (900 + u(o_orderkey * 8 + ln, 14) % 1100) / 1.0, 2)
          AS l_extendedprice,
        (u(o_orderkey * 8 + ln, 15) % 11) / 100.0 AS l_discount,
        (u(o_orderkey * 8 + ln, 16) % 9) / 100.0 AS l_tax,
        (['N', 'A', 'R'])[1 + u(o_orderkey * 8 + ln, 17) % 3] AS l_returnflag,
        (['O', 'F'])[1 + u(o_orderkey * 8 + ln, 18) % 2] AS l_linestatus,
        o_orderdate + to_days(CAST(1 + u(o_orderkey * 8 + ln, 19) % 121
          AS INTEGER)) AS l_shipdate
      FROM l
      ORDER BY u(o_orderkey * 8 + ln, 20)"""


def make_tables(out_dir: str, seed: int, kind: str) -> dict:
    """Write the parquet tables workload `kind` reads; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    size = SIZES[kind]
    con = _con(seed)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")
    if kind == "ops":
        _make_ops_tables(con, size, p)
    else:
        _copy(con, _orders_sql(size["orders"], size["months"]), p("orders"))
    if kind == "taxi":
        key_offset = random.Random(seed).randrange(1_000_000)
        _copy(con, _lineitem_sql(p("orders"), key_offset), p("lineitem"))
    counts = {}
    for f in sorted(os.listdir(out_dir)):
        if f.endswith(".parquet"):
            counts[f[:-8]] = con.execute(
                f"SELECT count(*) FROM read_parquet('{p(f[:-8])}')").fetchone()[0]
    con.close()
    return counts


def _make_ops_tables(con, size: dict, p) -> None:
    """The tables the dataprep lanes read: events, documents, embeddings."""
    n_ev = size["events"]
    span_us = 30 * 86400 * 1000000
    _copy(con, f"""SELECT CAST(i AS BIGINT) AS event_id,
        TIMESTAMP '2024-01-01' + to_microseconds(CAST(
          i * {span_us // n_ev} + u(i, 40) * {span_us // n_ev} // 1000000
          AS BIGINT)) AS ts,
        CAST(u(i, 41) % {max(n_ev // 66, 1)} AS BIGINT) AS user_id,
        (['view', 'click', 'purchase', 'signup', 'error'])
          [1 + u(i, 42) % 5] AS event_type,
        round(u(i, 43) % 56000 / 100.0, 2) AS value,
        '{{"k": ' || (u(i, 44) % 100) || '}}' AS props
        FROM range({n_ev}) t(i)""", p("events"))
    # near-duplicate documents: one in eight copies an earlier document
    # and rewrites one word, so the dedup lanes have clusters to find
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    _copy(con, f"""WITH d AS (SELECT i AS doc_id,
          CASE WHEN i > 3 AND u(i, 50) % 8 = 0 THEN i - 1 - u(i, 51) % 3
               ELSE i END AS base
        FROM range({size['documents']}) t(i)),
      t AS (SELECT doc_id,
          array_to_string(list_transform(range(8 + u(base, 52) % 72), q ->
            {vocab}[1 + (CASE WHEN q = 3 AND base <> doc_id
              THEN u(doc_id * 100 + q, 57) ELSE u(base * 100 + q, 56) END)
              % {len(VOCAB)}]), ' ') AS text
        FROM d)
      SELECT CAST(doc_id AS BIGINT) AS doc_id, text,
        CASE WHEN u(doc_id, 53) % 10 < 7 THEN 'en'
             ELSE (['zh', 'de', 'fr', 'es'])[1 + u(doc_id, 54) % 4] END
          AS lang,
        'src' || (u(doc_id, 55) % 20) AS source,
        CAST(length(text) AS BIGINT) AS n_chars
      FROM t""", p("documents"))
    _copy(con, f"""WITH v AS (SELECT i AS vec_id,
          CAST(u(i, 60) % 10 AS INTEGER) AS label
        FROM range({size['embeddings']}) t(i))
      SELECT CAST(vec_id AS BIGINT) AS vec_id,
        CAST(list_transform(range(64), j ->
          (u(label * 100 + j, 61) % 2001 - 1000) / 4000.0
          + (u(vec_id * 100 + j, 62) % 2001 - 1000) / 20000.0) AS FLOAT[])
          AS embedding,
        label
      FROM v""", p("embeddings"))


# ---- workload plans -------------------------------------------------------

def taxi_plan(seed: int, iterations: int, months: int) -> list:
    """The query list of each iteration, in a seeded order: Q1-Q4, each
    in DSL or SQL-text form, and one month-range count whose bounds
    [lo, hi) ('YYYY-MM') are seeded."""
    rnd = random.Random(seed * 7 + 1)
    out = []
    for _ in range(iterations):
        qs = [{"kind": rnd.choice([f"q{n}", f"sql_q{n}"])} for n in (1, 2, 3, 4)]
        lo = rnd.randrange(months - 3)
        qs.append({"kind": "range", "lo": _month(lo),
                   "hi": _month(lo + rnd.randint(1, 3))})
        rnd.shuffle(qs)
        out.append(qs)
    return out


def _month(i: int) -> str:
    return f"{1995 + i // 12:04d}-{i % 12 + 1:02d}"


DML_KINDS = ["update", "delete", "insert", "merge"]
DML_MOD = 100
DELETE_CLASSES = 256
DELETE_MOD = 7 * DELETE_CLASSES


def dml_plan(seed: int, cycles: int) -> list:
    """Seeded commit cycles over the `orders` snapshot table: each cycle is
    one UPDATE, DELETE, INSERT and MERGE in a seeded order. Every commit
    changes at least one row, so each one lands a new snapshot: updates
    and merges match keys not divisible by 7, which no delete removes;
    each delete removes its own class of base keys divisible by 7
    (`o_orderkey % DELETE_MOD = 7 * cls`, a different cls per delete);
    inserts and merges add keys above every generated key."""
    assert cycles <= DELETE_CLASSES
    rnd = random.Random(seed * 7 + 2)
    classes = list(range(DELETE_CLASSES))
    rnd.shuffle(classes)
    out = []
    for c in range(cycles):
        cycle = []
        for j, kind in enumerate(rnd.sample(DML_KINDS, len(DML_KINDS))):
            if kind == "delete":
                cycle.append({"kind": kind, "cls": classes.pop()})
                continue
            # one key in DML_MOD: the seed picks which rows, not how many
            op = {"kind": kind, "mod": DML_MOD, "res": rnd.randrange(DML_MOD),
                  "delta": round(rnd.randrange(1, 400) / 4.0, 2)}
            if kind in ("insert", "merge"):
                op["key_base"] = 1_000_000 * (4 * c + j + 1)
            cycle.append(op)
        out.append(cycle)
    return out


def ops_plan(seed: int, lanes: list) -> list:
    """The lane order for one pass, shuffled by the seed."""
    order = list(lanes)
    random.Random(seed * 7 + 3).shuffle(order)
    return order
