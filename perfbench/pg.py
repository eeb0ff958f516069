"""Throwaway PostgreSQL cluster for the mover round trip.

``initdb`` + ``pg_ctl`` on a unix socket inside the run directory, with
``fsync=off`` (the envelope files are not fsynced either, so both sides of
the round trip share one flush policy). Run as root, the server drops to
the ``postgres`` user with only the capability to traverse directories, so
the cluster can live under a checkout that user could not otherwise reach.
Always stopped with ``close()``; the caller owns that in a ``finally``.
"""

from __future__ import annotations

import os
import pwd
import shutil
import subprocess
import time

from mover_spark.sources import minipg

PORT = 5439  # names the socket file; the server listens on no TCP port
DB = "postgres"
MONITOR_DB = "template1"  # stats are read from here so reads never count

DDL = [
    "CREATE TABLE region (r_regionkey int PRIMARY KEY, r_name text)",
    "CREATE TABLE nation (n_nationkey int PRIMARY KEY, n_name text,"
    " n_regionkey int REFERENCES region)",
    "CREATE TABLE customer (c_custkey bigint PRIMARY KEY, c_name text,"
    " c_nationkey int REFERENCES nation, c_acctbal numeric(15,2),"
    " c_mktsegment text, c_address text, c_phone text, c_comment text)",
    "CREATE TABLE supplier (s_suppkey bigint PRIMARY KEY, s_name text,"
    " s_nationkey int REFERENCES nation, s_acctbal numeric(15,2),"
    " s_address text, s_phone text, s_comment text)",
    "CREATE TABLE part (p_partkey bigint PRIMARY KEY, p_name text, p_brand text,"
    " p_type text, p_size int, p_retailprice numeric(15,2))",
    "CREATE TABLE orders (o_orderkey bigint PRIMARY KEY,"
    " o_custkey bigint REFERENCES customer, o_orderstatus text,"
    " o_totalprice numeric(15,2), o_orderdate timestamp, o_orderpriority text)",
    # no PK: the fixture's (l_orderkey, l_linenumber) repeats, and the
    # catalog marks lineitem pk_unique=False, so the loader plain-INSERTs it
    "CREATE TABLE lineitem (l_orderkey bigint REFERENCES orders,"
    " l_partkey bigint REFERENCES part, l_suppkey bigint REFERENCES supplier,"
    " l_linenumber int, l_quantity numeric(15,2), l_extendedprice numeric(15,2),"
    " l_discount numeric(15,2), l_tax numeric(15,2), l_returnflag text,"
    " l_linestatus text, l_shipdate timestamp)",
]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]


class Cluster:
    def __init__(self, base: str):
        self.base = base
        self.data = os.path.join(base, "data")
        self._running = False
        os.makedirs(base)
        self._as_postgres: list[str] = []
        if os.geteuid() == 0:
            pw = pwd.getpwnam("postgres")
            os.chown(base, pw.pw_uid, pw.pw_gid)
            self._as_postgres = [
                "setpriv", f"--reuid={pw.pw_uid}", f"--regid={pw.pw_gid}",
                "--clear-groups", "--inh-caps=+dac_read_search",
                "--ambient-caps=+dac_read_search",
            ]
        self.dsn = f"host={base} port={PORT} user=postgres dbname={DB}"

    def _pg(self, *args: str) -> None:
        subprocess.run([*self._as_postgres, *args], check=True,
                       stdout=subprocess.DEVNULL, stderr=subprocess.PIPE)

    def start(self) -> None:
        self._pg("initdb", "-D", self.data, "-A", "trust", "--no-sync",
                 "-U", "postgres")
        self._pg(
            "pg_ctl", "-D", self.data, "-w", "-l", os.path.join(self.base, "log"),
            "-o", f"-c listen_addresses='' -c unix_socket_directories={self.base}"
            f" -p {PORT} -c fsync=off"
            " -c synchronous_commit=off -c full_page_writes=off",
            "start",
        )
        self._running = True
        self.run(*DDL)

    def close(self) -> None:
        if self._running:
            subprocess.run(
                [*self._as_postgres, "pg_ctl", "-D", self.data, "-m", "immediate",
                 "-w", "stop"],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
            )
            self._running = False
        shutil.rmtree(self.base, ignore_errors=True)

    def run(self, *stmts: str, db: str = DB) -> list[tuple]:
        conn = minipg.connect(self.dsn.replace(f"dbname={DB}", f"dbname={db}"))
        try:
            rows: list[tuple] = []
            with conn.cursor() as cur:
                for s in stmts:
                    cur.execute(s)
                    rows = cur.fetchall() if cur.description else []
            conn.commit()
            return rows
        finally:
            conn.close()

    def counts(self) -> dict[str, int]:
        return {t: self.run(f"SELECT count(*) FROM {t}")[0][0] for t in TABLES}

    def truncate(self) -> None:
        self.run("TRUNCATE " + ", ".join(TABLES))

    def wait_idle(self, timeout: float = 10.0) -> None:
        """Wait until no other client backend is connected. A backend
        flushes its table counters before it leaves pg_stat_activity, so
        the counters read after this include every writer's work."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            (n,), = self.run(
                "SELECT count(*) FROM pg_stat_activity WHERE backend_type ="
                " 'client backend' AND pid <> pg_backend_pid()",
                db=MONITOR_DB,
            )
            if n == 0:
                return
            time.sleep(0.02)
        raise TimeoutError("postgres writers still connected")

    def db_stats(self) -> tuple[int, int]:
        """(xact_commit, tup_inserted) of the target database, read from the
        monitor database so the read itself commits nothing there."""
        (row,) = self.run(
            "SELECT xact_commit, tup_inserted FROM pg_stat_database"
            f" WHERE datname = '{DB}'",
            db=MONITOR_DB,
        )
        return int(row[0]), int(row[1])

    def table_inserts(self) -> dict[str, int]:
        return {
            r[0]: int(r[1])
            for r in self.run("SELECT relname, n_tup_ins FROM pg_stat_user_tables")
        }
