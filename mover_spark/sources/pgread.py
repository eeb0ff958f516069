"""Partitioned DSN reads: the parallel-extract path the reference lacks.

The reference extracts through ONE database connection
(/root/reference/dialect/postgres/postgres.go:21-35, etl/extractor.go:158)
— at a 100-TB source that single pipe caps extract throughput no matter
how large the cluster is. SURVEY §4's "Parallelism" row promises the
Spark-side win: split the source relation into N disjoint predicates and
read them through N executor-side connections concurrently.

Two transports land that split:

- ``spark.read.jdbc`` with partition options / generated predicates
  (``jdbc.read_seed_query``) — the production path when a JDBC driver jar
  is on the classpath.
- ``parallel_read`` here — the same predicate split executed through
  executor-side DB-API connections (psycopg2 when installed, else the
  bundled minipg wire client) inside ``mapInPandas``. This is the path
  that runs REAL in this sandbox (no Postgres JDBC jar exists), proven
  against a live server in tests/test_postgres_live.py.

Predicate generation is shared by both: range strides over a numeric key
(Spark's own JDBCRelation semantics: open-ended first/last partitions so
stale bounds can never drop rows) and overflow-safe mod-hash fallbacks
for non-numeric or unbounded keys. Every generated set is COMPLETE
(predicates OR together to TRUE, NULL keys included) and DISJOINT (no row
matches two predicates) — the invariants the live tests assert.

``DsnCatalog`` packages it: a Catalog whose metadata comes from live
information_schema introspection (jdbc.introspect_catalog) and whose
``df(table)`` is a partitioned parallel read — making Engine.extract run
unchanged against a DSN source, closure and sanitize included.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from .jdbc import _default_connect, _warn_if_fallback

#: PG type OID -> Spark type (psycopg2 and minipg both expose the OID as
#: cursor.description[i][1]); unmapped OIDs degrade to string — the same
#: text-passthrough minipg's decoder applies
_OID_TO_SPARK = {
    16: BooleanType(),
    17: BinaryType(),
    20: LongType(),
    21: ShortType(),
    23: IntegerType(),
    26: LongType(),
    700: FloatType(),
    701: DoubleType(),
    1082: DateType(),
    1114: TimestampNTZType(),
    1184: TimestampType(),
    1700: DecimalType(38, 18),
}

#: PG integral type names (information_schema data_type) eligible for
#: range striding; everything else partitions by text hash
_INTEGRAL_PG_TYPES = ("smallint", "integer", "bigint", "int2", "int4", "int8")


def _qident(name: str) -> str:
    """Double-quote an identifier, doubling embedded quotes — column
    names are DATA here (they come from a live catalog), never trusted
    to be bare-word-safe."""
    return '"' + str(name).replace('"', '""') + '"'


def range_partition_predicates(
    column: str, lower: int, upper: int, num_partitions: int
) -> list[str]:
    """Disjoint, complete WHERE predicates striding [lower, upper) —
    Spark JDBCRelation.columnPartition semantics: the first partition is
    open below (plus the NULL keys) and the last open above, so rows
    outside stale bounds still land somewhere instead of being dropped.
    ``upper`` is exclusive; pass max+1 from a MIN/MAX probe."""
    col = _qident(column)
    span = max(0, upper - lower)
    n = max(1, min(num_partitions, span))
    if n == 1:
        return [f"{col} IS NOT NULL OR {col} IS NULL"]
    stride = span // n
    preds, bound = [], lower
    for i in range(n):
        bound += stride
        if i == 0:
            preds.append(f"{col} < {bound} OR {col} IS NULL")
        elif i == n - 1:
            preds.append(f"{col} >= {bound - stride}")
        else:
            preds.append(f"{col} >= {bound - stride} AND {col} < {bound}")
    return preds


def hash_partition_predicates(
    column: str, num_partitions: int, numeric: bool = True
) -> list[str]:
    """Mod-hash fallback when no usable bounds exist: numeric keys mod
    directly (``((k % N) + N) % N`` — sign-safe for negative keys where
    PG's ``%`` follows the dividend, and overflow-safe where ``abs()``
    would die on -2^63); other types hash server-side via
    ``hashtextextended`` (PostgreSQL 11+). NULL keys ride partition 0."""
    col = _qident(column)
    if num_partitions <= 1:
        return [f"{col} IS NOT NULL OR {col} IS NULL"]
    n = num_partitions
    key = col if numeric else f"hashtextextended({col}::text, 0)"
    expr = f"((({key}) % {n}) + {n}) % {n}"
    preds = [f"{expr} = {i}" for i in range(n)]
    preds[0] = f"({preds[0]}) OR {col} IS NULL"
    return preds


def auto_partition_predicates(
    run_sql,
    table: str,
    column: str,
    dtype: str,
    num_partitions: int,
) -> list[str]:
    """Pick the strategy from catalog metadata: integral key -> one cheap
    MIN/MAX probe then range strides (index-range scans per partition);
    non-integral key -> text-hash mod (each partition full-scans, but
    reads and transfers only 1/N of the rows — still N× the single-pipe
    extract throughput). Empty table -> single trivially-true predicate."""
    col, tbl = _qident(column), _qident(table)
    if num_partitions <= 1:
        return [f"{col} IS NOT NULL OR {col} IS NULL"]
    if str(dtype).lower() in _INTEGRAL_PG_TYPES:
        lo, hi = run_sql(f"SELECT MIN({col}), MAX({col}) FROM {tbl}")[0]
        if lo is None:
            return [f"{col} IS NOT NULL OR {col} IS NULL"]
        return range_partition_predicates(column, int(lo), int(hi) + 1, num_partitions)
    return hash_partition_predicates(column, num_partitions, numeric=False)


def describe_query(
    dsn: str,
    query: str,
    columns: list[str] | None = None,
    connection_factory=None,
) -> StructType:
    """Spark schema of ``query`` via one driver-side ``LIMIT 0`` round
    trip — the DB-API analogue of the JDBC reader's schema resolution."""
    connect = connection_factory or _default_connect
    collist = ", ".join(_qident(c) for c in columns) if columns else "*"
    conn = connect(dsn)
    try:
        with conn.cursor() as cur:
            cur.execute(f"SELECT {collist} FROM ({query}) mover_src LIMIT 0")
            desc = cur.description or []
    finally:
        conn.close()
    def field_type(d):
        # numeric: use the declared precision/scale from the DB-API
        # description (psycopg2 and minipg both fill them from atttypmod)
        # — the hardcoded (38,18) fallback cannot represent a numeric(38,0)
        # holding 1e21 or >18 fractional digits. Unconstrained `numeric`
        # (no typmod) keeps the fallback; cast to ::numeric(p,s) or ::text
        # in the query if its domain exceeds it.
        if d[1] == 1700:
            prec, scale = d[4], d[5]
            if prec and 1 <= int(prec) <= 38 and 0 <= int(scale or 0) <= int(prec):
                return DecimalType(int(prec), int(scale or 0))
            return DecimalType(38, 18)
        return _OID_TO_SPARK.get(d[1], StringType())

    return StructType([StructField(d[0], field_type(d), True) for d in desc])


def parallel_read(
    spark: SparkSession,
    dsn: str,
    query: str,
    predicates: list[str],
    columns: list[str] | None = None,
    connection_factory=None,
    batch_rows: int = 10_000,
    stream: bool = True,
) -> DataFrame:
    """Read ``query`` through ``len(predicates)`` concurrent executor-side
    connections — one disjoint predicate per Spark partition, Arrow-batched
    into pandas frames of ``batch_rows``. Column projection pushes down
    (``columns``); the caller's predicates push down by construction.

    Each partition streams through a SERVER-SIDE cursor (DECLARE / FETCH
    FORWARD ``batch_rows``): executor memory is bounded by one batch, not
    one partition's full result — the same contract as
    ``spark.sql.files.maxPartitionBytes`` on file scans, but enforced by
    the protocol rather than by hoping the predicate split was fine
    enough. (A plain execute would have the DB-API driver buffer the
    whole result set per connection — psycopg2's default client-side
    cursor and the bundled minipg both do.) ``stream=False`` falls back
    to that buffered single-execute for servers/drivers without cursor
    support. One pipe vs N concurrent bounded-memory pipes is the whole
    contrast with the reference's extractor (extractor.go:158)."""
    import pandas as pd

    if connection_factory is None:
        _warn_if_fallback()
    schema = describe_query(dsn, query, columns, connection_factory)
    names = [f.name for f in schema.fields]
    collist = ", ".join(_qident(c) for c in names)
    preds = list(predicates) or ["TRUE"]
    # parallelize slices the list evenly: exactly one predicate per
    # partition (a DataFrame round-robin repartition would not guarantee
    # the 1:1 placement)
    pred_df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, p) for i, p in enumerate(preds)], len(preds)
        ),
        "part int, pred string",
    )

    # columns whose Spark type is string but whose DRIVER value may not be
    # a str: psycopg2's default typecasters return dict (json/jsonb), list
    # (arrays), timedelta (interval), time, etc. for OIDs this module maps
    # to string — without coercion the Arrow cast crashes the task. JSON
    # containers render as JSON text; everything else via str(). (minipg
    # passes unmapped types through as text, so this is psycopg2-only.)
    # Cast ::text in the query for exact server-side rendering.
    str_idx = {
        i for i, f in enumerate(schema.fields)
        if isinstance(f.dataType, StringType)
    }
    bin_idx = {
        i for i, f in enumerate(schema.fields)
        if isinstance(f.dataType, BinaryType)
    }

    def _as_text(x):
        if x is None or isinstance(x, str):
            return x
        if isinstance(x, (dict, list)):
            import json

            return json.dumps(x, separators=(",", ":"), default=str)
        return str(x)

    def to_pandas(rows):
        # per-column object Series: pandas dtype inference would
        # float64-ify nullable int columns (NaN) and corrupt big values;
        # object columns Arrow-cast exactly per the schema
        cols = {}
        for i, name in enumerate(names):
            vals = [r[i] for r in rows]
            if i in str_idx and any(
                v is not None and not isinstance(v, str) for v in vals
            ):
                vals = [_as_text(v) for v in vals]
            elif i in bin_idx:
                # psycopg2 returns memoryview for bytea
                vals = [
                    bytes(v) if isinstance(v, memoryview) else v for v in vals
                ]
            cols[name] = pd.Series(vals, dtype="object")
        return pd.DataFrame(cols)

    def fetch(batches):
        connect = connection_factory or _default_connect
        for pdf in batches:
            for p in pdf["pred"]:
                select = (
                    f"SELECT {collist} FROM ({query}) mover_src WHERE ({p})"
                )
                conn = connect(dsn)
                try:
                    with conn.cursor() as cur:
                        if stream:
                            # DECLARE runs inside the lazy transaction both
                            # drivers open; the cursor dies with the tx on
                            # close, so no cleanup statement is needed on
                            # error paths
                            cur.execute(
                                "DECLARE mover_cur NO SCROLL CURSOR FOR "
                                + select
                            )
                            while True:
                                cur.execute(
                                    f"FETCH FORWARD {int(batch_rows)} "
                                    "FROM mover_cur"
                                )
                                rows = cur.fetchall()
                                if not rows:
                                    break
                                yield to_pandas(rows)
                        else:
                            cur.execute(select)
                            while True:
                                rows = cur.fetchmany(batch_rows)
                                if not rows:
                                    break
                                yield to_pandas(rows)
                finally:
                    conn.close()

    return pred_df.mapInPandas(fetch, schema)


class DsnCatalog:
    """Catalog over a LIVE database: metadata from information_schema
    introspection (jdbc.introspect_catalog, S19-S24), data through
    partitioned parallel reads. Duck-types the parquet Catalog's surface
    (``spark``/``tables``/``df``/``table``/``describe``), so
    Engine.extract — seed query, FK closure, sanitize, envelopes — runs
    unchanged against a DSN source, with every table scan split across
    ``num_partitions`` concurrent connections instead of the reference's
    single pipe."""

    def __init__(
        self,
        spark: SparkSession,
        dsn: str,
        schema: str = "public",
        num_partitions: int | None = None,
        connection_factory=None,
        register_views: bool = True,
    ):
        from .jdbc import dsn_run_sql, introspect_catalog

        self.spark = spark
        self.dsn = dsn
        self._connect = connection_factory
        self._run = dsn_run_sql(dsn, connection_factory)
        self.tables = introspect_catalog(self._run, schema=schema)
        for t in self.tables.values():
            if not t.primary_keys and t.columns:
                # keyless table: partition (and dedupe-target) on the first
                # column, and record that it is NOT a unique key
                t.primary_keys = [t.columns[0][0]]
                t.pk_unique = False
        self.num_partitions = int(
            num_partitions or spark.sparkContext.defaultParallelism
        )
        self._dfs: dict[str, DataFrame] = {}
        if register_views:
            for name in self.tables:
                self.df(name).createOrReplaceTempView(name)

    def df(self, name: str) -> DataFrame:
        if name not in self._dfs:
            t = self.tables[name]
            pk = t.primary_keys[0]
            dtypes = {c: d for c, d, _ in t.columns}
            preds = auto_partition_predicates(
                self._run, name, pk, dtypes.get(pk, "text"), self.num_partitions
            )
            self._dfs[name] = parallel_read(
                self.spark,
                self.dsn,
                f'SELECT * FROM {_qident(name)}',
                preds,
                connection_factory=self._connect,
            )
        return self._dfs[name]

    def table(self, name: str):
        return self.tables[name]

    # same metadata shape as the parquet catalog -> same rendering
    from ..catalog import Catalog as _C

    describe = _C.describe
    describe_df = _C.describe_df
    del _C
