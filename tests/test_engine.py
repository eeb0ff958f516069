"""Engine facade tests: extract -> envelope -> load round trip, config
compatibility, table sniffing, upsert SQL generation."""

import json
import os

from mover_spark.config import MoverConfig
from mover_spark.engine import Engine
from mover_spark.sources import jsonio
from mover_spark.sources.jdbc import (
    disable_triggers_sql,
    enable_triggers_sql,
    reset_sequence_sql,
    upsert_sql,
)
from mover_spark.util import get_query_table


def test_get_query_table_reference_cases():
    """Port of etl/util_test.go:9-13."""
    assert get_query_table("select * from user") == "user"
    assert get_query_table("SELECT * FROM user") == "user"
    assert get_query_table("SELECT one, two, three FROM user") == "user"


def test_envelope_roundtrip(spark, catalog, tmp_path):
    df = catalog.df("region")
    path = jsonio.write_envelope(df, "region", str(tmp_path))
    with open(path) as f:
        payload = json.load(f)
    assert payload["table_name"] == "region"
    assert payload["count"] == 5
    assert len(payload["data"]) == 5
    # tab-indented like the reference (engine.go:152-158)
    assert "\n\t" in open(path).read()

    back = jsonio.read_envelopes(spark, str(tmp_path))
    assert set(back) == {"region"}
    assert back["region"].count() == 5


def test_envelope_partitioned_mode(spark, catalog, tmp_path):
    df = catalog.df("orders")
    jsonio.write_envelope(df, "orders", str(tmp_path), partitioned=True)
    back = jsonio.read_envelopes(spark, str(tmp_path))
    assert back["orders"].count() == df.count()


def test_extract_load_roundtrip(spark, catalog, tmp_path):
    """extract a closed subset, load it back, idempotently (twice)."""
    out = str(tmp_path / "extract")
    cfg = MoverConfig(
        schema=[
            {
                "table_name": "customer",
                "columns": [
                    {"name": "c_name", "replace": "cust-{c_custkey}"},
                    {"name": "c_acctbal", "sanitize": True},
                ],
            }
        ]
    )
    eng = Engine(spark, catalog, cfg)
    results = eng.extract(out, "SELECT * FROM customer WHERE c_custkey <= 3")
    assert set(results) >= {"customer", "nation", "region", "orders"}
    row = results["customer"].orderBy("c_custkey").collect()[0]
    assert row.c_name == f"cust-{row.c_custkey}"
    assert row.c_acctbal is None

    target = str(tmp_path / "loaded")
    loaded = eng.load(out, target_dir=target)
    n1 = {t: df.count() for t, df in loaded.items()}
    # idempotent: loading the same envelopes again adds nothing
    eng.load(out, target_dir=target)
    for t in loaded:
        assert spark.read.parquet(os.path.join(target, f"{t}.parquet")).count() == n1[t]


def test_extract_extra_tables(spark, catalog, tmp_path):
    cfg = MoverConfig(extra=[{"table_name": "part"}])
    eng = Engine(spark, catalog, cfg)
    results = eng.extract(
        str(tmp_path), "SELECT * FROM region WHERE r_regionkey = 0"
    )
    # extra table is full-scanned (engine.go:117-125)
    assert results["part"].count() == catalog.df("part").count()


def test_upsert_sql_generation():
    assert upsert_sql("user", ["id", "name"], "id") == (
        'INSERT INTO "user" ("id", "name") VALUES %s ON CONFLICT ("id") DO NOTHING'
    )
    assert disable_triggers_sql("t") == 'ALTER TABLE "t" DISABLE TRIGGER ALL'
    assert enable_triggers_sql("t") == 'ALTER TABLE "t" ENABLE TRIGGER ALL'
    assert "setval" in reset_sequence_sql("user")[0]


def test_media_manifest(spark, catalog, tmp_path):
    cfg = MoverConfig(
        schema=[
            {
                "table_name": "customer",
                "columns": [
                    {
                        "name": "c_name",
                        "download": {"type": "http", "http": {"base_url": "http://cdn/"}},
                    }
                ],
            }
        ]
    )
    eng = Engine(spark, catalog, cfg)
    out = str(tmp_path)
    eng.extract(out, "SELECT * FROM customer WHERE c_custkey = 1")
    manifest = open(os.path.join(out, "_media_manifest.txt")).read().strip().splitlines()
    assert manifest and all(u.startswith("http://cdn/") for u in manifest)


class _StubCursor:
    def __init__(self, log):
        self.log = log

    def execute(self, sql):
        self.log.append(sql)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False


class _StubConn:
    def __init__(self, log):
        self.log = log
        self.closed = False

    def cursor(self):
        return _StubCursor(self.log)

    def commit(self):
        self.log.append("COMMIT")

    def close(self):
        self.closed = True


def test_bulk_upsert_trigger_bracket(spark):
    """S17+S18 wiring: the load path brackets the distributed write with
    trigger disable/enable and resyncs the sequence afterwards, in the
    reference's order (postgres.go:64-97,483-523). Stubbed connection —
    no DB in this environment."""
    from mover_spark.sources import jdbc

    log = []
    conn = _StubConn(log)
    df = spark.range(3).selectExpr("id")

    def noop_writer(dsn, table, columns, pk):
        def write(rows):
            for _ in rows:
                pass
        return write

    jdbc.bulk_upsert(
        df, "dsn://stub", "user", "id",
        connection_factory=lambda dsn: conn, partition_writer=noop_writer,
    )
    assert log == [
        'ALTER TABLE "user" DISABLE TRIGGER ALL',
        "COMMIT",
        'ALTER TABLE "user" ENABLE TRIGGER ALL',
        "COMMIT",
        jdbc.reset_sequence_sql("user", "id")[0],
        "COMMIT",
    ]
    assert conn.closed


def test_bulk_upsert_reenables_triggers_on_failure(spark):
    """A failing distributed write must still re-enable triggers (and must
    NOT resync the sequence)."""
    from mover_spark.sources import jdbc

    log = []
    conn = _StubConn(log)
    df = spark.range(3).selectExpr("id")

    def bad_writer(dsn, table, columns, pk):
        def write(rows):
            raise ValueError("boom")
        return write

    import pytest as _pytest
    with _pytest.raises(Exception):
        jdbc.bulk_upsert(
            df, "dsn://stub", "user", "id",
            connection_factory=lambda dsn: conn, partition_writer=bad_writer,
        )
    assert 'ALTER TABLE "user" ENABLE TRIGGER ALL' in log
    assert not any("setval" in s for s in log)
    assert conn.closed


def test_load_dsn_path_dedups_and_brackets(spark, catalog, tmp_path):
    """Engine.load with a DSN target: batch is PK-deduped before the upsert
    and the trigger/sequence bracket runs once per table."""
    dup = catalog.df("region").unionByName(catalog.df("region"))
    jsonio.write_envelope(dup, "region", str(tmp_path))

    log = []

    def noop_writer(dsn, table, columns, pk):
        def write(rows):
            for _ in rows:
                pass
        return write

    eng = Engine(spark, catalog, MoverConfig())
    out = eng.load(
        str(tmp_path), dsn="dsn://stub",
        connection_factory=lambda dsn: _StubConn(log),
        partition_writer=noop_writer,
    )
    assert log[0] == 'ALTER TABLE "region" DISABLE TRIGGER ALL'
    assert any("setval" in s for s in log)
    # incoming batch deduped on PK before the upsert: 10 envelope rows -> 5
    assert out["region"].count() == 5


def test_load_dsn_unknown_table_falls_back(spark, catalog, tmp_path):
    """A DSN load of a table absent from the catalog must not KeyError —
    the reference dispatches purely on the embedded table_name."""
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["some_id", "val"])
    jsonio.write_envelope(df, "mystery_table", str(tmp_path))

    def noop_writer(dsn, table, columns, pk):
        def write(rows):
            for _ in rows:
                pass
        return write

    eng = Engine(spark, catalog, MoverConfig())
    out = eng.load(
        str(tmp_path), dsn="dsn://stub",
        connection_factory=lambda dsn: _StubConn([]),
        partition_writer=noop_writer,
    )
    assert out["mystery_table"].count() == 2


def test_numeric_strict_mode(spark):
    """SURVEY §1.2: strict mode surfaces `numeric` columns as
    DecimalType(38,18) (the lossy default mirrors mover's numeric->float64,
    dialect/postgres/util.go:177-183)."""
    from decimal import Decimal

    from mover_spark.catalog import Catalog
    from .conftest import SF_DIR

    cat = Catalog(spark, SF_DIR, numeric_mode="strict", register_views=False)
    dt = dict(cat.df("lineitem").dtypes)
    assert dt["l_extendedprice"] == "decimal(38,18)"
    assert dt["l_quantity"] == "decimal(38,18)"
    desc = {r["column_name"]: r["data_type"] for r in cat.describe("orders")}
    assert desc["o_totalprice"] == "decimal(38,18)"
    # decimal arithmetic is exact: a value like 0.1 that is inexact in
    # binary sums without float noise
    row = cat.df("lineitem").selectExpr(
        "sum(l_discount) AS s", "count(*) AS n"
    ).collect()[0]
    assert isinstance(row.s, Decimal)
    assert row.s == row.s.quantize(Decimal("0.01"))  # tenths/hundredths only


def test_coerce_to_schema_type_fidelity(spark, tmp_path):
    """Write-path per-type coercion parity with valuesToPairs
    (postgres/util.go:29-107): arrays, jsonb-as-text, inet/range strings,
    RFC3339 timestamps — envelope -> read -> coerce must round-trip."""
    import datetime

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    target_schema = StructType([
        StructField("id", LongType()),
        StructField("small_arr", ArrayType(ShortType())),      # smallint[]
        StructField("int_arr", ArrayType(IntegerType())),      # integer[]
        StructField("str_arr", ArrayType(StringType())),       # varchar[]
        StructField("ts_arr", ArrayType(TimestampType())),     # timestamp[]
        StructField("ts", TimestampType()),                    # timestamp
        StructField("props", StringType()),                    # jsonb -> text
        StructField("addr", StringType()),                     # inet
        StructField("rng", StringType()),                      # int4range
    ])
    t0 = datetime.datetime(2021, 3, 4, 5, 6, 7)
    rows = [(
        1, [1, 2], [30, 40], ["a", "b"], [t0, t0], t0,
        '{"k": 1, "s": "x"}', "10.0.0.1/32", "[1,5)",
    )]
    original = spark.createDataFrame(rows, schema=target_schema)
    jsonio.write_envelope(original, "typed", str(tmp_path))

    back = jsonio.read_envelopes(spark, str(tmp_path))["typed"]
    # JSON inference degrades types (bigint arrays, string timestamps,
    # struct for the jsonb object if it were embedded as an object)
    coerced = jsonio.coerce_to_schema(back, original)
    assert coerced.schema == target_schema
    got = coerced.collect()[0]
    assert got.small_arr == [1, 2] and got.int_arr == [30, 40]
    assert got.str_arr == ["a", "b"]
    assert got.ts == t0 and got.ts_arr == [t0, t0]
    assert json.loads(got.props) == {"k": 1, "s": "x"}
    assert got.addr == "10.0.0.1/32" and got.rng == "[1,5)"


def test_coerce_jsonb_object_to_text(spark):
    """A reference-produced envelope embeds jsonb as a real JSON OBJECT; the
    load path must re-encode it to text (util.go:36-42,91-96), not render a
    Spark struct literal."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    src = spark.read.json(
        spark.sparkContext.parallelize(['{"id": 1, "props": {"k": 1, "s": "x"}}'])
    )
    target = spark.createDataFrame(
        [], StructType([StructField("id", LongType()), StructField("props", StringType())])
    )
    out = jsonio.coerce_to_schema(src, target).collect()[0]
    assert json.loads(out.props) == {"k": 1, "s": "x"}


def test_csv_orc_roundtrip(spark, catalog, tmp_path):
    """CSV (schema-directed) and ORC round-trips preserve values including
    sub-second timestamps; sources/formats.py."""
    from mover_spark.sources import formats

    for tname in ("region", "orders"):
        df = catalog.df(tname)
        want = sorted(map(tuple, df.collect()))

        csv_path = str(tmp_path / f"{tname}_csv")
        formats.write_csv(df, csv_path)
        got_csv = sorted(
            map(tuple, formats.read_csv(spark, csv_path, df.schema).collect())
        )
        assert got_csv == want, f"csv roundtrip mismatch for {tname}"

        orc_path = str(tmp_path / f"{tname}_orc")
        formats.write_orc(df, orc_path)
        got_orc = sorted(map(tuple, formats.read_orc(spark, orc_path).collect()))
        assert got_orc == want, f"orc roundtrip mismatch for {tname}"


def test_load_update_mode_last_write_wins(spark, catalog, tmp_path):
    """on_conflict="update": a refreshed envelope REPLACES same-PK rows
    (the reference can only ignore conflicts); insert-only mode keeps the
    originals."""
    import pyspark.sql.functions as F

    v1 = catalog.df("region")
    jsonio.write_envelope(v1, "region", str(tmp_path / "v1"))
    v2 = v1.withColumn("r_name", F.concat(F.lit("NEW_"), F.col("r_name")))
    jsonio.write_envelope(v2, "region", str(tmp_path / "v2"))

    eng = Engine(spark, catalog, MoverConfig())
    target = str(tmp_path / "tgt")
    eng.load(str(tmp_path / "v1"), target_dir=target)

    # insert-only: conflicting refresh is ignored (reference parity)
    eng.load(str(tmp_path / "v2"), target_dir=target)
    names = {r.r_name for r in spark.read.parquet(os.path.join(target, "region.parquet")).collect()}
    assert not any(n.startswith("NEW_") for n in names)

    # update: last write wins, count unchanged
    eng.load(str(tmp_path / "v2"), target_dir=target, on_conflict="update")
    got = spark.read.parquet(os.path.join(target, "region.parquet"))
    assert got.count() == v1.count()
    assert all(r.r_name.startswith("NEW_") for r in got.collect())


def test_upsert_update_sql_generation():
    from mover_spark.sources.jdbc import upsert_update_sql

    sql = upsert_update_sql("user", ["id", "name", "email"], "id")
    assert 'ON CONFLICT ("id") DO UPDATE SET' in sql
    assert '"name" = EXCLUDED."name"' in sql and '"email" = EXCLUDED."email"' in sql
    assert '"id" = EXCLUDED' not in sql  # key column is never updated


def test_parquet_schema_evolution(spark, catalog, tmp_path):
    """mergeSchema read across two schema versions of the same table:
    the added column is nullable-absent for v1 rows, present for v2."""
    from pyspark.sql import functions as F

    from mover_spark.sources.formats import read_parquet_evolved

    v1 = catalog.df("region")
    v1.write.parquet(str(tmp_path / "t" / "batch=1"))
    v2 = catalog.df("region").withColumn(
        "r_priority", (F.col("r_regionkey") % 3).cast("int")
    )
    v2.write.parquet(str(tmp_path / "t" / "batch=2"))

    merged = read_parquet_evolved(spark, str(tmp_path / "t"))
    assert "r_priority" in merged.columns
    n = v1.count()
    assert merged.count() == 2 * n
    # v1 rows surface the evolved column as NULL; v2 rows carry values
    assert merged.where(F.col("r_priority").isNull()).count() == n
    assert merged.where(F.col("r_priority").isNotNull()).count() == n


def test_jsonl_roundtrip(spark, catalog, tmp_path):
    """JSONL round-trip preserves values including sub-second timestamps."""
    from mover_spark.sources.formats import read_jsonl, write_jsonl

    for tname in ("documents", "events"):
        src = catalog.df(tname)
        p = str(tmp_path / f"{tname}.jsonl")
        write_jsonl(src, p)
        back = read_jsonl(spark, p, src.schema)
        assert back.schema == src.schema
        assert back.count() == src.count()
        assert back.exceptAll(src).count() == 0
        assert src.exceptAll(back).count() == 0


def test_upsert_sql_composite_conflict_target():
    """ADVICE r2: the conflict target must name the FULL composite key —
    otherwise Postgres raises 'cannot affect row a second time' for batches
    holding distinct composite-PK rows sharing the first key column."""
    from mover_spark.sources.jdbc import upsert_sql, upsert_update_sql

    sql = upsert_sql("lineitem", ["l_orderkey", "l_linenumber", "l_qty"],
                     ["l_orderkey", "l_linenumber"])
    assert 'ON CONFLICT ("l_orderkey", "l_linenumber") DO NOTHING' in sql

    usql = upsert_update_sql("lineitem", ["l_orderkey", "l_linenumber", "l_qty"],
                             ["l_orderkey", "l_linenumber"])
    assert 'ON CONFLICT ("l_orderkey", "l_linenumber") DO UPDATE SET' in usql
    assert '"l_qty" = EXCLUDED."l_qty"' in usql
    assert '"l_orderkey" = EXCLUDED' not in usql
    assert '"l_linenumber" = EXCLUDED' not in usql


def test_upsert_update_sql_pk_only_table_falls_back():
    """ADVICE r2: a table whose only column is the PK has nothing to SET —
    emit DO NOTHING instead of invalid 'DO UPDATE SET ' SQL."""
    from mover_spark.sources.jdbc import upsert_update_sql

    sql = upsert_update_sql("tag", ["id"], "id")
    assert sql.endswith('ON CONFLICT ("id") DO NOTHING')
    assert "DO UPDATE" not in sql


def test_insert_sql_for_non_unique_pk():
    """pk_unique=False tables have no unique constraint, so ON CONFLICT can
    never fire — the sink must emit a plain INSERT."""
    from mover_spark.sources.jdbc import insert_sql, upsert_partition_writer

    assert insert_sql("lineitem", ["a", "b"]) == (
        'INSERT INTO "lineitem" ("a", "b") VALUES %s'
    )


def test_load_preserves_duplicate_pk_rows_when_not_unique(spark, catalog, tmp_path):
    """ADVICE r2 (medium): lineitem's (l_orderkey, l_linenumber) is flagged
    pk_unique=False and extract preserves duplicate-PK rows; load must not
    silently drop them — loaded counts must agree with the envelope."""
    li = catalog.df("lineitem").limit(20)
    dup = li.unionByName(li)  # every PK now appears twice, legitimately
    jsonio.write_envelope(dup, "lineitem", str(tmp_path / "env"))

    eng = Engine(spark, catalog, MoverConfig())
    target = str(tmp_path / "tgt")
    out = eng.load(str(tmp_path / "env"), target_dir=target)
    assert out["lineitem"].count() == 40  # nothing deduped

    got = spark.read.parquet(os.path.join(target, "lineitem.parquet"))
    assert got.count() == 40

    # but a unique-PK table still dedupes (reference ON CONFLICT parity)
    jsonio.write_envelope(
        catalog.df("region").unionByName(catalog.df("region")),
        "region", str(tmp_path / "env2"))
    out2 = eng.load(str(tmp_path / "env2"), target_dir=str(tmp_path / "tgt2"))
    assert out2["region"].count() == catalog.df("region").count()


def test_write_envelope_partitioned_empty_table(spark, catalog, tmp_path):
    """ADVICE r2: partitioned envelope of an EMPTY extract must write
    count 0, not die on schema inference over zero-record part files."""
    import json as _json

    empty = catalog.df("region").where("r_regionkey < 0")
    path = jsonio.write_envelope(empty, "region", str(tmp_path), partitioned=True)
    with open(os.path.join(path, jsonio.ENVELOPE_MANIFEST)) as f:
        manifest = _json.load(f)
    assert manifest == {"table_name": "region", "count": 0}


def test_envelope_schema_sidecar(spark, tmp_path):
    """The partitioned writer's _schema.json sidecar reads back the written
    types with no inference; a pre-sidecar directory still loads through
    inference + coercion to the same values; a part file contradicting its
    sidecar raises instead of loading NULLs."""
    import datetime
    from decimal import Decimal

    import pytest
    from pyspark.sql.types import (
        DateType,
        DecimalType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    schema = StructType([
        StructField("id", LongType()),
        StructField("ts", TimestampType()),
        StructField("d", DateType()),
        StructField("amt", DecimalType(10, 2)),
        StructField("note", StringType()),
        StructField("gone", StringType()),  # NULL in every row
    ])
    df = spark.createDataFrame([
        (1, datetime.datetime(2024, 1, 2, 3, 4, 5, 678000),
         datetime.date(2024, 1, 2), Decimal("123.45"), "a", None),
        (2, None, None, None, None, None),
    ], schema)
    env = str(tmp_path / "env")
    path = jsonio.write_envelope(df, "typed", env, partitioned=True)
    sidecar = os.path.join(path, jsonio.SCHEMA_SIDECAR)
    assert os.path.exists(sidecar)
    want = df.orderBy("id").collect()

    typed = jsonio.read_envelopes(spark, env)["typed"]
    assert typed.schema == df.schema
    assert typed.orderBy("id").collect() == want

    os.remove(sidecar)  # a directory written before the sidecar existed
    legacy = jsonio.read_envelopes(spark, env)["typed"]
    assert jsonio.coerce_to_schema(legacy, df).orderBy("id").collect() == want

    with open(sidecar, "w") as f:
        f.write(df.schema.json())
    with open(os.path.join(path, "part-99999-bad.json"), "w") as f:
        f.write('{"id": "not-a-number", "note": "x"}\n')
    with pytest.raises(Exception):
        jsonio.read_envelopes(spark, env)["typed"].collect()


def test_load_failure_in_one_table_reenables_every_tables_triggers(
    spark, catalog, tmp_path
):
    """Tables load concurrently: when one table's distributed write fails,
    every table's trigger bracket still closes, the tables that succeeded
    still resync their sequences, and the error reaches the caller."""
    import pytest

    tables = ["nation", "region", "supplier"]
    for t in tables:
        jsonio.write_envelope(catalog.df(t), t, str(tmp_path), partitioned=True)

    log, conns = [], []

    def connect(dsn):
        conns.append(_StubConn(log))
        return conns[-1]

    def failing_writer(dsn, table, columns, pk):
        def write(rows):
            if table == "region":
                raise ValueError("boom in region")
            for _ in rows:
                pass
        return write

    eng = Engine(spark, catalog, MoverConfig())
    with pytest.raises(Exception, match="boom in region"):
        eng.load(str(tmp_path), dsn="dsn://stub", connection_factory=connect,
                 partition_writer=failing_writer)
    for t in tables:
        assert f'ALTER TABLE "{t}" DISABLE TRIGGER ALL' in log
        assert f'ALTER TABLE "{t}" ENABLE TRIGGER ALL' in log
    resynced = {t for t in tables if any(f'"{t}"' in s and "setval" in s for s in log)}
    assert resynced == {"nation", "supplier"}
    assert conns and all(c.closed for c in conns)


def test_concurrent_table_jobs_carry_caller_job_tag(spark, catalog, tmp_path):
    """The per-table writes run on pool threads; every Spark job that
    extract and load start must still carry the caller's job tag."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    tag = "engine-concurrency-tag"

    def noop_writer(dsn, table, columns, pk):
        def write(rows):
            for _ in rows:
                pass
        return write

    before = set(tracker.getJobIdsForGroup())
    sc.addJobTag(tag)
    try:
        eng = Engine(spark, catalog, MoverConfig())
        out = str(tmp_path / "env")
        results = eng.extract(out, "SELECT * FROM customer WHERE c_custkey <= 3")
        loaded = eng.load(out, dsn="dsn://stub",
                          connection_factory=lambda dsn: _StubConn([]),
                          partition_writer=noop_writer)
    finally:
        sc.removeJobTag(tag)
    assert set(loaded) == set(results) and len(results) >= 3
    started = set(tracker.getJobIdsForGroup()) - before
    tagged = set(sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
    # at least one envelope write and one upsert job per table
    assert len(started) >= 2 * len(results)
    assert started <= tagged, f"untagged jobs: {sorted(started - tagged)}"


def test_extract_default_is_partitioned_no_collect(spark, catalog, tmp_path, monkeypatch):
    """VERDICT r2: the DEFAULT extract path must be scale-safe — partitioned
    envelopes written executor-parallel, with NO driver-side collect()
    anywhere (a 100 TB closure must not OOM the driver). Single-file byte
    parity is opt-in via partitioned=False."""
    from pyspark.sql import DataFrame

    def boom(self):
        raise AssertionError("driver-side collect() on the default extract path")

    monkeypatch.setattr(DataFrame, "collect", boom)

    eng = Engine(spark, catalog, MoverConfig())
    eng.extract(str(tmp_path), "SELECT * FROM region WHERE r_regionkey < 3")

    # partitioned layout: <out>/region/ dir with manifest, no region.json
    assert os.path.isdir(os.path.join(str(tmp_path), "region"))
    assert os.path.exists(os.path.join(str(tmp_path), "region", jsonio.ENVELOPE_MANIFEST))
    assert not os.path.exists(os.path.join(str(tmp_path), "region.json"))

    monkeypatch.undo()
    # and the partitioned extract round-trips through load
    eng2 = Engine(spark, catalog, MoverConfig())
    out = eng2.load(str(tmp_path), target_dir=str(tmp_path / "tgt"))
    assert out["region"].count() == 3


def test_media_download_local(spark, catalog, tmp_path):
    """S14 download execution against a LIVE loopback HTTP server: the
    executor-parallel fetch (etl/util.go:91-151 parity, minus its
    serialized-g.Wait bug and its abort-on-first-error semantics) mirrors
    each URL's path under media/, and a dead link is skipped without
    killing the rest of the batch."""
    import functools
    import http.server
    import threading

    # serve files named after region r_name values; leave one (ASIA) missing
    docroot = tmp_path / "docroot"
    names = [r.r_name for r in catalog.df("region").collect()]
    (docroot / "files").mkdir(parents=True)
    for n in names:
        if n != "ASIA":
            (docroot / "files" / n).write_text(f"media for {n}")
    handler = functools.partial(
        http.server.SimpleHTTPRequestHandler, directory=str(docroot)
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}/files/"
        cfg = MoverConfig(
            schema=[{
                "table_name": "region",
                "columns": [{
                    "name": "r_name",
                    "download": {"type": "http", "http": {"base_url": base}},
                }],
            }]
        )
        out = str(tmp_path / "extract")
        Engine(spark, catalog, cfg).extract(
            out, "SELECT * FROM region", download_media=True
        )
    finally:
        srv.shutdown()

    got = sorted(os.listdir(os.path.join(out, "media", "files")))
    assert got == sorted(n for n in names if n != "ASIA")  # dead link skipped
    for n in got:
        with open(os.path.join(out, "media", "files", n)) as f:
            assert f.read() == f"media for {n}"
    # the manifest still lists EVERY url (the retry/recon list)
    manifest = open(os.path.join(out, "_media_manifest.txt")).read()
    assert all(base + n in manifest for n in names)


def test_jsonl_quarantine_splits_bad_lines(spark, tmp_path):
    """PERMISSIVE landing-zone ingest: parseable lines come back under
    the caller's schema, malformed lines land in the quarantine frame
    byte-for-byte (inspect/replay, never silently dropped), the two
    frames partition the file, and the caller's schema object is NOT
    mutated by the internal corrupt-record column."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mover_spark.sources.formats import read_jsonl_quarantine

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    n_fields_before = len(schema.fields)
    src = tmp_path / "landing.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "ok one"}\n'
        '{"doc_id": oops not json\n'
        '{"doc_id": 2, "text": "ok two"}\n'
        "<<<binary garbage>>>\n"
        '{"doc_id": "not a long", "text": "type drift"}\n'
    )
    good, bad = read_jsonl_quarantine(spark, str(src), schema)
    assert len(schema.fields) == n_fields_before, "caller schema mutated"
    assert [f.name for f in good.schema.fields] == ["doc_id", "text"]
    assert sorted((r.doc_id, r.text) for r in good.collect()) == [
        (1, "ok one"),
        (2, "ok two"),
    ]
    lines = sorted(r.raw_line for r in bad.collect())
    assert '{"doc_id": oops not json' in lines
    assert "<<<binary garbage>>>" in lines
    assert any("not a long" in ln for ln in lines), "type drift not quarantined"
    assert len(lines) == 3
    good.unpersist()


def test_csv_quarantine_splits_bad_rows(spark, tmp_path):
    """CSV twin: schema-violating rows quarantine as raw lines, clean
    rows parse under the caller's schema."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mover_spark.sources.formats import read_csv_quarantine

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / "landing.csv"
    src.write_text(
        "doc_id,text\n"
        "1,alpha\n"
        "not_a_number,beta\n"
        "2,gamma\n"
    )
    good, bad = read_csv_quarantine(spark, str(src), schema)
    assert sorted((r.doc_id, r.text) for r in good.collect()) == [
        (1, "alpha"),
        (2, "gamma"),
    ]
    assert [r.raw_line for r in bad.collect()] == ["not_a_number,beta"]
    good.unpersist()


def test_ingest_jsonl_quarantine_writes_through_and_releases(spark, tmp_path):
    """The landing-zone write-through helper: good rows land in parquet,
    malformed lines in the text quarantine prefix byte-for-byte, counts
    come back without re-reading, and — the round-11 point — the shared
    parse cache is RELEASED before return (a derived-frame unpersist does
    not release it; only the helper holds the raw handle)."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mover_spark.sources.formats import ingest_jsonl_quarantine

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    src = tmp_path / "landing.jsonl"
    src.write_text(
        '{"doc_id": 1, "text": "ok one"}\n'
        "garbage line\n"
        '{"doc_id": 2, "text": "ok two"}\n'
    )
    good_path = str(tmp_path / "good")
    quar_path = str(tmp_path / "quarantine")

    def n_cached():
        return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())

    before = n_cached()
    n_good, n_bad = ingest_jsonl_quarantine(
        spark, str(src), schema, good_path, quar_path
    )
    assert (n_good, n_bad) == (2, 1)
    assert n_cached() == before, "quarantine parse cache leaked"
    assert sorted(
        (r.doc_id, r.text) for r in spark.read.parquet(good_path).collect()
    ) == [(1, "ok one"), (2, "ok two")]
    assert [r.value for r in spark.read.text(quar_path).collect()] == [
        "garbage line"
    ]
