"""Expected outputs, computed independently of the program under test.

Runs as a child process before Spark starts, so DuckDB's memory never
counts in the measured process tree's peak RSS:

    python3 perfbench/expect.py < job.json    # {"job": "mix"|"mover", "args": [...]}

prints the expected outputs as one JSON object.

- Query mixes: each query's ``oracle_sql()`` on DuckDB over the same
  fixture, reduced to (row count, sorted columns, order-insensitive hash).
  The hash is the one ``tools/check_correctness.py`` uses. Results are
  cached per fixture stamp and oracle text, since some oracles take
  seconds.
- Mover round trip: per-table row counts of the FK closure of the seed
  customers, written as plain SQL joins, and the source values of the
  columns the sanitize rules must replace.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os


def norm(v) -> str:
    """Value rendering shared with tools/check_correctness.py."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def digest(rows: list[dict], cols: list[str]) -> dict:
    lines = sorted("|".join(norm(r[c]) for c in cols) for r in rows)
    return {
        "rows": len(rows),
        "cols": cols,
        "hash": hashlib.md5("\n".join(lines).encode()).hexdigest(),
    }


def _connect(fixture_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for fname in sorted(os.listdir(fixture_dir)):
        if fname.endswith(".parquet"):
            path = os.path.join(fixture_dir, fname)
            con.execute(f"CREATE VIEW {fname[:-8]} AS SELECT * FROM '{path}'")
    return con


def mix_expected(root: str, fixture_dir: str, stamp: str, names: list[str],
                 cache_dir: str) -> dict[str, dict]:
    import sys

    sys.path.insert(0, root)
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    os.makedirs(cache_dir, exist_ok=True)
    out, con = {}, None
    for name in names:
        sql = oracles[name]
        key = hashlib.sha1(f"{stamp}\0{name}\0{sql}".encode()).hexdigest()
        path = os.path.join(cache_dir, key + ".json")
        try:
            with open(path) as f:
                out[name] = json.load(f)
            continue
        except FileNotFoundError:
            pass
        con = con or _connect(fixture_dir)
        rel = con.sql(sql)
        cols = list(rel.columns)
        rows = [dict(zip(cols, r)) for r in rel.fetchall()]
        out[name] = digest(rows, sorted(cols))
        with open(path + ".tmp", "w") as f:
            json.dump(out[name], f)
        os.replace(path + ".tmp", path)
    return out


CLOSURE_SQL = """
WITH c AS (SELECT * FROM customer WHERE c_custkey IN ({keys})),
o AS (SELECT * FROM orders WHERE o_custkey IN (SELECT c_custkey FROM c)),
l AS (SELECT * FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM o)),
p AS (SELECT * FROM part WHERE p_partkey IN (SELECT l_partkey FROM l)),
s AS (SELECT * FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM l)),
n AS (SELECT * FROM nation WHERE n_nationkey IN
      (SELECT c_nationkey FROM c UNION SELECT s_nationkey FROM s)),
r AS (SELECT * FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM n))
SELECT (SELECT count(*) FROM c), (SELECT count(*) FROM o),
       (SELECT count(*) FROM l), (SELECT count(*) FROM p),
       (SELECT count(*) FROM s), (SELECT count(*) FROM n),
       (SELECT count(*) FROM r)
"""
CLOSURE_TABLES = ["customer", "orders", "lineitem", "part", "supplier", "nation", "region"]


def mover_expected(fixture_dir: str, custkeys: list[int]) -> dict:
    """Closure counts for the seeds: customers fan out to their orders (the
    depth-0 reverse key), orders to their lineitems (the allowlisted
    ``lineitem_fk_l_orderkey``), lineitems to parts and suppliers, and
    customers and suppliers to nations and regions."""
    con = _connect(fixture_dir)
    keys = ",".join(str(k) for k in custkeys)
    counts = dict(zip(CLOSURE_TABLES, con.execute(CLOSURE_SQL.format(keys=keys)).fetchone()))
    cust = con.execute(
        f"SELECT c_custkey, c_name, c_address, c_phone, c_comment FROM customer"
        f" WHERE c_custkey IN ({keys})").fetchall()
    supp = con.execute("SELECT s_suppkey, s_name, s_address, s_phone, s_comment FROM supplier").fetchall()
    return {
        "counts": counts,
        "customer": {str(r[0]): list(r[1:]) for r in cust},
        "supplier": {str(r[0]): list(r[1:]) for r in supp},
    }


JOBS = {"mix": mix_expected, "mover": mover_expected}

if __name__ == "__main__":
    import sys

    job = json.load(sys.stdin)
    json.dump(JOBS[job["job"]](*job["args"]), sys.stdout)
