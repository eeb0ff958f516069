"""JDBC source/sink: catalog introspection SQL + idempotent bulk upsert.

The reference's load path (S17/S18) is: one transaction, triggers disabled,
per-row ``INSERT ... ON CONFLICT (pk) DO NOTHING``, then sequence resync
(/root/reference/dialect/postgres/postgres.go:64-97,466-523). Spark's JDBC
writer has no ON CONFLICT, so the sink is a ``foreachPartition`` batched
upsert through a DB-API connection — one transaction per partition
(isolation divergence from the reference's single global tx: documented,
inherent to distributed writers). ``Engine.load`` runs every table's
``bulk_upsert`` at once, as concurrent Spark jobs, each with its own driver
connection and its own trigger bracket; unlike the reference's
one-table-at-a-time walk, a child table may land before its parent. That
is safe because each table's FK check triggers are disabled for its own
write. The DB-API driver is resolved per-process: psycopg2 when installed,
else the bundled pure-Python wire client (minipg.py; the Spark driver
warns once when it falls back). The full extract→load→resync round trip
is exercised against a LIVE local PostgreSQL server in
tests/test_postgres_live.py; statement sequencing is additionally
unit-tested with stub connections.

Catalog introspection uses information_schema/pg_catalog queries equivalent
to postgres.go:100-403, fetched through ONE spark.read.jdbc round per query
instead of the reference's per-table fan-out.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# --- introspection SQL (pg_catalog; postgres.go:334-403 equivalents) -------

LIST_TABLES_SQL = (
    "SELECT c.relname AS table_name FROM pg_catalog.pg_class c "
    "JOIN pg_catalog.pg_namespace n ON n.oid = c.relnamespace "
    "WHERE c.relkind = 'r' AND n.nspname = '{schema}'"
)

#: columns + types + nullability + ordinal position (postgres.go:243-302);
#: information_schema instead of regex-parsing pg_get_constraintdef
LIST_COLUMNS_SQL = (
    "SELECT table_name, column_name, data_type, is_nullable = 'YES' AS nullable, "
    "ordinal_position AS position FROM information_schema.columns "
    "WHERE table_schema = '{schema}'"
)

#: primary keys (postgres.go:200-240); ordinal_position orders composite keys.
#: The join matches constraint_schema AND table_schema, not constraint_name
#: alone — Postgres default PK names (<table>_pkey) repeat across schemas,
#: and a name-only join would cross-match and inject wrong PK columns.
LIST_PRIMARY_KEYS_SQL = (
    "SELECT tc.table_name, kcu.column_name, kcu.ordinal_position AS position "
    "FROM information_schema.table_constraints tc "
    "JOIN information_schema.key_column_usage kcu "
    "ON tc.constraint_name = kcu.constraint_name "
    "AND tc.constraint_schema = kcu.constraint_schema "
    "AND tc.table_schema = kcu.table_schema "
    "AND tc.table_name = kcu.table_name "
    "WHERE tc.constraint_type = 'PRIMARY KEY' AND tc.table_schema = '{schema}'"
)

#: foreign keys — structured catalog instead of the reference's regex parse
#: of constraint definitions (postgres.go:18,137-176). Standard-SQL shape:
#: referential_constraints links the FK constraint to the PK/unique
#: constraint it references; joining key_column_usage on BOTH sides (the FK
#: side by constraint_name, the referenced side by unique_constraint_name +
#: position_in_unique_constraint) recovers each column pair. Runs unchanged
#: on PostgreSQL and DuckDB (contract-tested against the latter's
#: information_schema — DuckDB has no constraint_column_usage, and this
#: form needs none).
LIST_FOREIGN_KEYS_SQL = (
    "SELECT rc.constraint_name AS name, kcu.table_name, kcu.column_name, "
    "pku.table_name AS ref_table, pku.column_name AS ref_column, "
    "kcu.ordinal_position AS position "
    "FROM information_schema.referential_constraints rc "
    "JOIN information_schema.key_column_usage kcu "
    "ON kcu.constraint_name = rc.constraint_name "
    "AND kcu.constraint_schema = rc.constraint_schema "
    "JOIN information_schema.key_column_usage pku "
    "ON pku.constraint_name = rc.unique_constraint_name "
    "AND pku.constraint_schema = rc.unique_constraint_schema "
    "AND pku.ordinal_position = kcu.position_in_unique_constraint "
    "WHERE rc.constraint_schema = '{schema}'"
)
# reverse FKs (postgres.go:100-134) are DERIVED by inverting the FK edges —
# no extra query (catalog.Catalog does the inversion).


def introspect_catalog(run_sql, schema: str = "public") -> dict:
    """Build the full Table-metadata map (S19-S24) from a live database.

    ``run_sql(sql) -> list[tuple]`` abstracts the transport: production
    passes a JDBC/driver-backed runner, tests a DuckDB connection over a
    mock schema — the SQL strings are identical either way, which is the
    contract being tested. Mirrors the reference's per-table introspection
    fan-out (postgres.go:334-403) in four set-based queries, then derives
    reverse FKs by inverting the edge list (vs postgres.go:100-134's extra
    pg_constraint query)."""
    from ..catalog import ForeignKey, ReferenceKey, Table

    tables: dict = {
        r[0]: Table(name=r[0], primary_keys=[])
        for r in run_sql(LIST_TABLES_SQL.format(schema=schema))
    }
    for tname, cname, dtype, nullable, _pos in sorted(
        run_sql(LIST_COLUMNS_SQL.format(schema=schema)), key=lambda r: (r[0], r[4])
    ):
        if tname in tables:
            tables[tname].columns.append((cname, str(dtype).lower(), bool(nullable)))
    for tname, cname, _pos in sorted(
        run_sql(LIST_PRIMARY_KEYS_SQL.format(schema=schema)), key=lambda r: (r[0], r[2])
    ):
        if tname in tables:
            tables[tname].primary_keys.append(cname)
    by_constraint: dict = {}
    for name, tname, cname, ref_table, ref_col, pos in run_sql(
        LIST_FOREIGN_KEYS_SQL.format(schema=schema)
    ):
        by_constraint.setdefault((name, tname, ref_table), []).append(
            (pos, cname, ref_col)
        )
    for (name, tname, ref_table), pairs in sorted(by_constraint.items()):
        pairs.sort()
        if tname in tables:
            tables[tname].foreign_keys.append(
                ForeignKey(
                    name=name,
                    table=tname,
                    cols=[c for _, c, _ in pairs],
                    ref_table=ref_table,
                    ref_cols=[rc for _, _, rc in pairs],
                )
            )
    for t in tables.values():
        for fk in t.foreign_keys:
            if fk.ref_table in tables:
                tables[fk.ref_table].reference_keys.append(
                    ReferenceKey(
                        name=fk.name,
                        child_table=fk.table,
                        child_cols=fk.cols,
                        parent_cols=fk.ref_cols,
                    )
                )
    return tables


def read_seed_query(
    spark: SparkSession,
    url: str,
    query: str,
    props: dict,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    predicates: list[str] | None = None,
    fetchsize: int = 10_000,
) -> DataFrame:
    """S1 over JDBC: push the whole seed query to the source DB — the
    analogue of Dialect.ResultSet (postgres.go:43-60), but PARTITIONED.

    The reference extracts through one connection (postgres.go:21-35);
    at scale that single pipe is the extract bottleneck. Three modes:

    - ``partition_column`` + bounds + ``num_partitions``: Spark's native
      stride split — N concurrent connections, each scanning one key range.
    - ``predicates``: caller-generated disjoint WHERE clauses (see
      pgread.range_partition_predicates / hash_partition_predicates), one
      connection per predicate — the route for keyless or non-numeric keys.
    - neither: the reference-parity single-connection read.

    ``fetchsize`` defaults to 10k so result sets CURSOR-stream instead of
    arriving in one driver-side buffer (the JDBC default of 0 means
    "whole result set at once" on PostgreSQL). When no JDBC driver jar is
    available, pgread.parallel_read runs the same predicate split through
    executor-side DB-API connections instead."""
    props = dict(props)
    props.setdefault("fetchsize", str(fetchsize))
    table = f"({query}) seed_q"
    stride_args = (partition_column, lower_bound, upper_bound, num_partitions)
    if any(a is not None for a in stride_args):
        # a partial OR degenerate spec (empty column name, num_partitions
        # 0/negative) silently degrading to the single-connection read
        # would "work" N times slower with nothing pointing at the cause —
        # the guard mirrors the dispatch's truthiness exactly
        if not (
            partition_column
            and lower_bound is not None
            and upper_bound is not None
            and num_partitions
            and num_partitions >= 1
        ):
            raise ValueError(
                "partitioned read needs ALL of partition_column/lower_bound/"
                f"upper_bound/num_partitions valid (got {stride_args!r}); "
                "drop them all for a single-connection read, or use "
                "predicates=..."
            )
        if num_partitions > 1:
            return spark.read.jdbc(
                url,
                table,
                column=partition_column,
                lowerBound=lower_bound,
                upperBound=upper_bound,
                numPartitions=num_partitions,
                properties=props,
            )
        # num_partitions == 1: an explicit single-partition stride is just
        # the single-connection read
    if predicates:
        return spark.read.jdbc(url, table, predicates=predicates, properties=props)
    return spark.read.jdbc(url, table, properties=props)


# --- upsert sink ------------------------------------------------------------

def disable_triggers_sql(table: str) -> str:
    """postgres.go:483-490."""
    return f'ALTER TABLE "{table}" DISABLE TRIGGER ALL'


def enable_triggers_sql(table: str) -> str:
    """postgres.go:492-497."""
    return f'ALTER TABLE "{table}" ENABLE TRIGGER ALL'


def _pk_list(pk) -> list[str]:
    return [pk] if isinstance(pk, str) else list(pk)


def upsert_sql(table: str, columns: list[str], pk) -> str:
    """INSERT ... ON CONFLICT (pk...) DO NOTHING (postgres.go:466-481);
    psycopg2.extras.execute_values-compatible VALUES placeholder. `pk` is a
    column name or a composite-key list — the conflict target must name the
    FULL unique key or Postgres won't match the constraint."""
    collist = ", ".join(f'"{c}"' for c in columns)
    pklist = ", ".join(f'"{c}"' for c in _pk_list(pk))
    return (
        f'INSERT INTO "{table}" ({collist}) VALUES %s '
        f'ON CONFLICT ({pklist}) DO NOTHING'
    )


def upsert_update_sql(table: str, columns: list[str], pk) -> str:
    """Last-write-wins flavor the reference lacks: ON CONFLICT DO UPDATE
    SET every non-key column from EXCLUDED — a true merge for refresh-style
    loads (the reference can only ignore conflicting rows). When the table
    has no non-key columns there is nothing to SET — fall back to DO NOTHING
    (an empty SET list is a Postgres syntax error)."""
    pks = _pk_list(pk)
    sets = ", ".join(f'"{c}" = EXCLUDED."{c}"' for c in columns if c not in pks)
    if not sets:
        return upsert_sql(table, columns, pk)
    collist = ", ".join(f'"{c}"' for c in columns)
    pklist = ", ".join(f'"{c}"' for c in pks)
    return (
        f'INSERT INTO "{table}" ({collist}) VALUES %s '
        f'ON CONFLICT ({pklist}) DO UPDATE SET {sets}'
    )


def insert_sql(table: str, columns: list[str]) -> str:
    """Plain INSERT for tables whose PK is not backed by a unique
    constraint (catalog pk_unique=False): ON CONFLICT can never fire
    without a constraint, and naming one is an error."""
    collist = ", ".join(f'"{c}"' for c in columns)
    return f'INSERT INTO "{table}" ({collist}) VALUES %s'


def reset_sequence_sql(table: str, pk: str = "id") -> list[str]:
    """Sequence resync, assuming {table}_id_seq naming (postgres.go:499-523).

    Divergence from the reference: a table WITHOUT such a sequence is a
    no-op here (to_regclass guard; CASE evaluates lazily so nextval never
    fires on a missing sequence), where the reference hard-errors on its
    nextval probe — this engine loads arbitrary tables (e.g. TPC-H shapes
    with natural keys), not only serial-id ones. A failing setval on an
    EXISTING sequence still propagates (the reference's failure path)."""
    seq = f"{table}_id_seq"
    # Two parse-time traps the CASE guard can't catch on a sequence-less
    # table: a bare '{seq}' literal coerces to regclass during PARSING (so
    # it must be '{seq}'::text, resolved only at call time), and
    # COALESCE(MAX(text_pk), 0) is a parse-time type error (so the pk casts
    # to bigint — evaluated only when the sequence exists, where a
    # {table}_id_seq always implies an integral id).
    return [
        f"SELECT CASE WHEN to_regclass('{seq}') IS NOT NULL THEN "
        f"setval('{seq}'::text, "
        f"GREATEST((SELECT COALESCE(MAX(\"{pk}\"::bigint), 0) + 1 "
        f"FROM \"{table}\"), nextval('{seq}'::text)), false) END"
    ]


def upsert_partition_writer(
    dsn: str,
    table: str,
    columns: list[str],
    pk,
    batch: int = 1000,
    on_conflict: str = "nothing",
    pk_unique: bool = True,
):
    """Returns a foreachPartition callback performing the batched upsert.
    One tx per partition. Import-gated: raises a clear error without
    psycopg2 (not installed in this environment)."""
    if not pk_unique:
        sql = insert_sql(table, columns)
    elif on_conflict == "update":
        sql = upsert_update_sql(table, columns, pk)
    else:
        sql = upsert_sql(table, columns, pk)

    def write(rows):
        connect, execute_values = _resolve_driver()
        conn = connect(dsn)
        try:
            with conn.cursor() as cur:
                buf = []
                for row in rows:
                    buf.append(tuple(row[c] for c in columns))
                    if len(buf) >= batch:
                        execute_values(cur, sql, buf)
                        buf.clear()
                if buf:
                    execute_values(cur, sql, buf)
            conn.commit()
        finally:
            conn.close()

    return write


def _resolve_driver():
    """(connect, execute_values) — psycopg2 when installed (the production
    driver: prepared-statement parameter transport, SSL/SCRAM, COPY),
    otherwise the bundled pure-Python wire client (minipg: simple-query
    protocol, trust/password auth — enough for the loopback test harness
    and simple deployments). Resolved lazily so executors pick whichever
    is importable on THEIR python path. Quiet: the driver-side entry
    points call ``_warn_if_fallback`` once instead of every partition
    writer warning in every Python worker."""
    try:  # pragma: no cover - psycopg2 absent in this environment
        import psycopg2
        from psycopg2.extras import execute_values

        return psycopg2.connect, execute_values
    except ImportError:
        from . import minipg

        return minipg.connect, minipg.execute_values


def _warn_if_fallback() -> None:
    """Loud on the driver: the minipg fallback is a deliberate downgrade.
    minipg binds parameters through the extended-query protocol, but has
    no SCRAM, no SSL, and no COPY — fine for the loopback test harness,
    NOT a production transport. A deployment that meant to use psycopg2
    should see this immediately instead of a cryptic executor-side auth
    error. Python's default warning filter shows it once per process."""
    from . import minipg

    if _resolve_driver()[0] is minipg.connect:
        import warnings

        warnings.warn(
            "psycopg2 not importable — falling back to the bundled minipg "
            "wire client (trust/password auth only, no SSL/SCRAM/COPY). "
            "Install psycopg2 on the executors for production loads.",
            RuntimeWarning,
            stacklevel=3,
        )


def _default_connect(dsn: str):
    return _resolve_driver()[0](dsn)


def dsn_run_sql(dsn: str, connection_factory=None):
    """``run_sql(sql) -> list[tuple]`` over a DSN — the transport
    introspect_catalog needs to read a LIVE target database's metadata
    (one short-lived autocommitted connection per query)."""
    connect = connection_factory or _default_connect

    def run(sql: str) -> list[tuple]:
        conn = connect(dsn)
        try:
            with conn.cursor() as cur:
                cur.execute(sql)
                rows = cur.fetchall()
            conn.commit()
            return rows
        finally:
            conn.close()

    return run


def bulk_upsert(
    df: DataFrame,
    dsn: str,
    table: str,
    pk,
    connection_factory=None,
    partition_writer=None,
    on_conflict: str = "nothing",
    pk_unique: bool = True,
) -> None:
    """S17+S18: distributed idempotent load with the reference's bracket
    (postgres.go:64-97): triggers disabled before the insert, re-enabled
    after, then sequence resync (postgres.go:499-523). The reference does all
    of it in ONE transaction; a distributed writer cannot, so the toggles are
    driver-side statements committed around the job (documented isolation
    divergence). Triggers are re-enabled even if the distributed write fails.

    `connection_factory(dsn)` defaults to psycopg2.connect; tests inject a
    stub to assert the exact statement sequence (no DB in this environment).
    `partition_writer` is injectable for the same reason."""
    pks = _pk_list(pk)
    if connection_factory is None or partition_writer is None:
        _warn_if_fallback()
    connect = connection_factory or _default_connect
    make_writer = partition_writer or (
        lambda d, t, cols, key: upsert_partition_writer(
            d, t, cols, key, on_conflict=on_conflict, pk_unique=pk_unique
        )
    )
    conn = connect(dsn)
    try:
        with conn.cursor() as cur:
            cur.execute(disable_triggers_sql(table))
        conn.commit()
        try:
            df.foreachPartition(make_writer(dsn, table, df.columns, pks))
        finally:
            with conn.cursor() as cur:
                cur.execute(enable_triggers_sql(table))
            conn.commit()
        with conn.cursor() as cur:
            for stmt in reset_sequence_sql(table, pks[0]):
                cur.execute(stmt)
        conn.commit()
    finally:
        conn.close()
