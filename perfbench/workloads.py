"""The benchmark's two workloads: their operations, set-up and output checks.

Each workload is a closed loop driven by one client: an operation starts
when the previous one has returned. The seed picks the mover's seed
customers and the order of the query groups; the fixture itself is fixed
(see ``fixture.py``).
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

DEFAULT_SEED = 20261017
#: a second seed, for checking a later claim on inputs it was not tuned on
HOLDOUT_SEED = 7

#: Relational queries from ``queries()``: Catalyst scan, join, aggregation,
#: window and shuffle work with no Python workers and no session memos.
RELATIONAL = [
    "q3_shipping_priority", "q9_nation_year_profit", "q21_waiting_suppliers",
    "events_sessionize",
]
#: LLM-data operators in groups. Siblings that share a session memo stay
#: adjacent, the one that fills the memo first, whatever order the seed deals the groups.
LLM_OPS = [
    ["substring_dedup_stats", "substring_dedup_clean"],
    ["ann_topk_ivf"],
    ["bm25_topk"],
    ["redact_pii"],
    ["streaming_neardup_probe"],
]
QUERY_MIX = [[n] for n in RELATIONAL] + LLM_OPS
FAMILY = {
    **{n: "relational" for n in RELATIONAL},
    "containment_lsh": "dedup", "containment_lsh_pruned": "dedup",
    "substring_dedup_stats": "dedup", "substring_dedup_clean": "dedup",
    "embedding_dup_clusters": "dedup", "dedup_minhash_lsh": "dedup",
    "dedup_ngram_jaccard": "dedup",
    "semantic_dedup": "similarity", "ann_topk_ivf": "similarity",
    "ann_topk_lsh": "similarity",
    "bm25_topk": "retrieval", "hybrid_retrieval_rrf": "retrieval",
    "redact_pii": "text", "decontaminate_ngram": "text",
    "streaming_ann_probe": "streaming", "streaming_neardup_probe": "streaming",
    "extract": "mover", "load": "mover", "reload": "mover",
}
FAMILIES = ["relational", "dedup", "similarity", "retrieval", "text", "streaming"]

#: seed customers sampled for the mover round trip, per fixture size
MOVER_SEEDS = {"standard": 150, "smoke": 15}
MOVER_CONFIG = [
    # orders reached from a seed customer also pull their lineitems
    {"table_name": "orders", "reference_keys": ["lineitem_fk_l_orderkey"]},
    {"table_name": "customer", "columns": [
        {"name": "c_name", "fake": "last_name", "unique": True},
        {"name": "c_address", "fake": "street_address"},
        {"name": "c_phone", "replace": "+1-555-{c_custkey}"},
        {"name": "c_comment", "sanitize": True},
    ]},
    {"table_name": "supplier", "columns": [
        {"name": "s_name", "replace": "supplier-{s_suppkey}"},
        {"name": "s_address", "fake": "street_address"},
        {"name": "s_phone", "sanitize": True},
        {"name": "s_comment", "sanitize": True},
    ]},
]
#: Fixed warm-up queries, run at the smoke fixture size during set-up. A
#: process's first use of an execution mode then lands in set-up instead of
#: on whichever operation the seed deals first: codegen'd aggregation for
#: every workload, and for the LLM operators also the Arrow/pandas boundary
#: (bench.py's protocol, minus modes that only one measured operation uses).
WARMUPS = {
    "mover_roundtrip": ["q1_pricing_summary"],
    "query_mix": ["q1_pricing_summary", "embedding_cosine_pairs"],
}
#: Warm rounds after the first pass. A fixed count, because warm times keep
#: falling for several rounds while the JIT compiles: a run that fitted one
#: round more into a time window would read faster for that alone.
WARM_ROUNDS = {"mover_roundtrip": 2, "query_mix": 1}


def warm_up(workload: str, spark, warmup_dir: str, times: dict) -> None:
    import __spark_entry__ as entrymod

    queries = entrymod.queries()
    t0 = time.time()
    for name in WARMUPS[workload]:
        queries[name](spark, warmup_dir).collect()
    times["bench.warmup_s"] = time.time() - t0


@dataclass
class Op:
    name: str
    run: Callable[[], object]
    check: Callable[[object], str | None]
    prepare: Callable[[], None] | None = None
    info: dict = field(default_factory=dict)  # set by check, per invocation

    @property
    def family(self) -> str:
        return FAMILY[self.name]


@dataclass
class Context:
    root: str
    run_dir: str
    size: str
    seed: int
    mix_dir: str
    mover_dir: str
    warmup_dir: str
    stamp: str
    cache_dir: str
    tamper: bool


class QueryMix:
    """Queries from ``queries()``, each result collected to the
    client and hash-checked against its DuckDB oracle."""

    def __init__(self, name: str, groups: list[list[str]], ctx: Context):
        self.name = name
        self.ctx = ctx
        groups = [list(g) for g in groups]
        random.Random(ctx.seed).shuffle(groups)
        self.order = [n for g in groups for n in g]
        self.expected: dict[str, dict] = {}

    def expectation_job(self) -> dict:
        return {"job": "mix", "args": [
            self.ctx.root, self.ctx.mix_dir, self.ctx.stamp, self.order,
            os.path.join(self.ctx.cache_dir, "expected")]}

    def set_expected(self, expected: dict) -> None:
        self.expected = expected
        if self.ctx.tamper:
            first = self.order[0]
            self.expected[first] = {**expected[first], "hash": "0" * 32}

    def setup(self, spark, times: dict) -> None:
        import __spark_entry__ as entrymod
        from mover_spark.catalog import Catalog

        warm_up(self.name, spark, self.ctx.warmup_dir, times)
        t1 = time.time()
        # the queries share one catalog per (session, fixture); build it here
        # so its cost is set-up, not the first query's
        getattr(entrymod, "_catalog", Catalog)(spark, self.ctx.mix_dir)
        times["catalog.init_s"] = time.time() - t1
        self.queries = entrymod.queries()

    def ops(self, spark) -> list[Op]:
        from expect import digest

        def make(name: str) -> Op:
            fn = self.queries[name]

            def check(rows) -> str | None:
                cols = sorted(rows[0].__fields__) if rows else self.expected[name]["cols"]
                got = digest([r.asDict() for r in rows], cols)
                want = self.expected[name]
                if got != want:
                    return (f"{name}: rows {got['rows']}/{want['rows']},"
                            f" cols match {got['cols'] == want['cols']},"
                            f" hash {got['hash']} != {want['hash']}")
                return None

            return Op(name, lambda: fn(spark, self.ctx.mix_dir).collect(), check)

        return [make(n) for n in self.order]

    def close(self) -> None:
        pass  # nothing outlives the Spark session


class MoverRoundTrip:
    """Engine.extract of the seed customers' closure, Engine.load into
    empty tables of a live PostgreSQL, then the same load again."""

    name = "mover_roundtrip"

    def __init__(self, ctx: Context):
        import pyarrow.parquet as pq

        self.ctx = ctx
        n_cust = pq.ParquetFile(os.path.join(ctx.mover_dir, "customer.parquet")).metadata.num_rows
        self.custkeys = sorted(random.Random(ctx.seed).sample(range(n_cust), MOVER_SEEDS[ctx.size]))
        self.query = ("SELECT * FROM customer WHERE c_custkey IN ("
                      + ",".join(map(str, self.custkeys)) + ")")
        self.out_dir = os.path.join(ctx.run_dir, "envelopes")
        self.cluster = None

    def expectation_job(self) -> dict:
        return {"job": "mover", "args": [self.ctx.mover_dir, self.custkeys]}

    def set_expected(self, expected: dict) -> None:
        self.expected = expected
        if self.ctx.tamper:
            self.expected["counts"]["customer"] += 1

    def setup(self, spark, times: dict) -> None:
        from mover_spark.catalog import Catalog
        from mover_spark.config import MoverConfig
        from mover_spark.engine import Engine

        from pg import Cluster

        warm_up(self.name, spark, self.ctx.warmup_dir, times)
        t1 = time.time()
        self.engine = Engine(spark, Catalog(spark, self.ctx.mover_dir),
                             MoverConfig(schema=MOVER_CONFIG))
        t2 = time.time()
        self.cluster = Cluster(os.path.join(self.ctx.run_dir, "pg"))
        self.cluster.start()
        t3 = time.time()
        times["catalog.init_s"] = t2 - t1
        times["pg.setup_s"] = t3 - t2

    def close(self) -> None:
        if self.cluster is not None:
            self.cluster.close()
            self.cluster = None

    # -- checks -------------------------------------------------------------

    def _envelope_counts(self) -> dict[str, int]:
        out = {}
        for path in glob.glob(os.path.join(self.out_dir, "*", "_envelope.json")):
            with open(path) as f:
                m = json.load(f)
            out[m["table_name"]] = int(m["count"])
        return out

    def _rows(self, table: str) -> list[dict]:
        rows = []
        for path in sorted(glob.glob(os.path.join(self.out_dir, table, "part-*"))):
            with open(path) as f:
                rows.extend(json.loads(line) for line in f if line.strip())
        return rows

    def _check_extract(self, op: Op) -> str | None:
        counts = self._envelope_counts()
        op.info = {"counts": counts, "bytes": sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(self.out_dir, "**"), recursive=True)
            if os.path.isfile(p))}
        want = self.expected["counts"]
        if counts != want:
            return f"extract: envelope counts {counts} != closure {want}"
        errors = []
        cust = self._rows("customer")
        src = self.expected["customer"]
        names = [r.get("c_name") for r in cust]
        if len(set(names)) != len(names):
            errors.append("c_name not unique")
        for r in cust:
            key = str(r["c_custkey"])
            s_name, s_addr = src[key][:2]
            if r.get("c_comment") is not None:
                errors.append(f"c_comment kept for {key}")
            if r.get("c_phone") != f"+1-555-{key}":
                errors.append(f"c_phone {r.get('c_phone')!r} off template for {key}")
            if r.get("c_name") in (None, s_name) or r.get("c_address") in (None, s_addr):
                errors.append(f"raw customer value kept for {key}")
        ssrc = self.expected["supplier"]
        for r in self._rows("supplier"):
            key = str(r["s_suppkey"])
            if r.get("s_phone") is not None or r.get("s_comment") is not None:
                errors.append(f"s_phone/s_comment kept for {key}")
            if r.get("s_name") != f"supplier-{key}":
                errors.append(f"s_name {r.get('s_name')!r} off template for {key}")
            if r.get("s_address") in (None, ssrc[key][1]):
                errors.append(f"raw supplier address kept for {key}")
        return "; ".join(errors[:5]) or None

    def _pg_before(self) -> None:
        self._tbl0 = self.cluster.table_inserts()
        # the benchmark's own connections (TRUNCATE, the counts and reads
        # above) must have flushed their stats before the baseline is read
        self.cluster.wait_idle()
        self._db0 = self.cluster.db_stats()

    def _pg_delta(self, op: Op) -> dict[str, int]:
        self.cluster.wait_idle()
        commits, inserted = (a - b for a, b in zip(self.cluster.db_stats(), self._db0))
        tbl = self.cluster.table_inserts()
        sent = self._envelope_counts()
        op.info = {
            "commits": commits, "rows_inserted": inserted,
            "rows_sent": sum(sent.values()),
            "rows_inserted_pk": sum(tbl.get(t, 0) - self._tbl0.get(t, 0)
                                    for t in sent if t != "lineitem"),
            "rows_sent_pk": sum(v for t, v in sent.items() if t != "lineitem"),
        }
        return sent

    def ops(self, spark) -> list[Op]:
        def prep_extract():
            shutil.rmtree(self.out_dir, ignore_errors=True)

        def prep_load():
            self.cluster.truncate()
            self._pg_before()

        def check_load(_) -> str | None:
            sent = self._pg_delta(load)
            got = self.cluster.counts()
            return None if got == sent else f"load: table counts {got} != envelopes {sent}"

        def check_reload(_) -> str | None:
            sent = self._pg_delta(reload)
            # unique-PK tables skip every row (ON CONFLICT DO NOTHING);
            # lineitem has no unique key and is plain-INSERTed again
            want = {t: n * (2 if t == "lineitem" else 1) for t, n in sent.items()}
            got = self.cluster.counts()
            return None if got == want else f"reload: table counts {got} != {want}"

        extract = Op("extract", lambda: self.engine.extract(
            self.out_dir, self.query, table="customer"),
            lambda _: self._check_extract(extract), prep_extract)
        load = Op("load", lambda: self.engine.load(self.out_dir, dsn=self.cluster.dsn),
                  check_load, prep_load)
        reload = Op("reload", lambda: self.engine.load(self.out_dir, dsn=self.cluster.dsn),
                    check_reload, self._pg_before)
        return [extract, load, reload]


def make(workload: str, ctx: Context):
    if workload == "mover_roundtrip":
        return MoverRoundTrip(ctx)
    if workload == "query_mix":
        return QueryMix("query_mix", QUERY_MIX, ctx)
    raise ValueError(f"unknown workload {workload!r}")


WORKLOADS = ["mover_roundtrip", "query_mix"]
