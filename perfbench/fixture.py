"""Deterministic parquet fixtures for the benchmark, generated from source.

The tables follow the schemas and value distributions of the synthetic
star schema described in FIXTURES.md: TPC-H-shaped region, nation,
customer, supplier, part, orders and lineitem, plus the events,
documents and embeddings tables that the LLM-data operators read.
Row counts scale with ``sf`` like those reference sets (customers 150k x sf,
lineitem 6M x sf, ...).

Two layouts are written per size:

- ``mix``: exactly the reference column set, read by the query mixes and
  their DuckDB oracles.
- ``mover``: the seven TPC-H tables the mover round trip closes over, with
  TPC-H's address, phone and comment columns on customer and supplier so
  the sanitize rules have personal data to replace.

The fixture seed is fixed: the workload seed only picks samples and orders
(see ``workloads.py``), so every seed reads the same files and the same
cached oracle results.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "es", "fr", "zh"]
VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
COMMENT_WORDS = (
    "carefully final deposits sleep quickly pending requests wake blithely "
    "regular accounts haggle furiously ironic packages nag express ideas"
).split()

#: (name, sf) per size; the documents/embeddings floors match the reference
#: sets, which keep 500 of each below sf0.1
SIZES = {"standard": 0.01, "smoke": 0.001}


def _ts(start: dt.datetime, seconds: np.ndarray) -> pa.Array:
    base = int(start.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
    return pa.array(base + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _phones(rng: np.random.Generator, nations: np.ndarray) -> list[str]:
    # TPC-H phone shape: country code (nation + 10) then three groups
    g = rng.integers(100, 1000, size=(len(nations), 2))
    last = rng.integers(1000, 10000, size=len(nations))
    return [f"{n + 10}-{a}-{b}-{c}" for n, (a, b), c in zip(nations, g, last)]


def _comments(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(4, 12, size=n)
    words = rng.integers(0, len(COMMENT_WORDS), size=int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(COMMENT_WORDS[w] for w in words[pos : pos + k]))
        pos += k
    return out


def _addresses(rng: np.random.Generator, n: int) -> list[str]:
    nums = rng.integers(1, 9999, size=n)
    streets = rng.integers(0, len(PART_NOUN), size=n)
    return [f"{a} {PART_NOUN[s].title()} Street" for a, s in zip(nums, streets)]


def build_tables(sf: float, seed: int = FIXTURE_SEED) -> tuple[dict, dict]:
    """Return ({table: pa.Table} for the mixes, {table: pa.Table} for the
    mover layout)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(1, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c_nat = rng.integers(0, 25, size=n_cust).astype(np.int32)
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(c_nat),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    s_nat = rng.integers(0, 25, size=n_supp).astype(np.int32)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(s_nat),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2)),
    })
    day = 86_400
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2)),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        # uniform line numbers: (l_orderkey, l_linenumber) repeats, as in
        # the reference fixture, so lineitem's PK is not unique
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105_000.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 2), rng.integers(0, 2498, n_line) * day),
    })
    secs = np.sort(rng.uniform(0, 30 * day, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(dt.datetime(2024, 1, 1), secs),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near duplicate: an earlier document plus a marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 81))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)))
    langs = ["en" if rng.random() < 0.44 else LANGS[int(rng.integers(0, 4))]
             for _ in range(n_docs)]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec).astype(np.int32)),
    })

    mover = {k: t[k] for k in ("region", "nation", "part", "orders", "lineitem")}
    mover["customer"] = (
        t["customer"]
        .append_column("c_address", pa.array(_addresses(rng, n_cust)))
        .append_column("c_phone", pa.array(_phones(rng, c_nat)))
        .append_column("c_comment", pa.array(_comments(rng, n_cust)))
    )
    mover["supplier"] = (
        t["supplier"]
        .append_column("s_address", pa.array(_addresses(rng, n_supp)))
        .append_column("s_phone", pa.array(_phones(rng, s_nat)))
        .append_column("s_comment", pa.array(_comments(rng, n_supp)))
    )
    return t, mover


def _stamp(size: str) -> str:
    with open(__file__, "rb") as f:
        src = f.read()
    return hashlib.sha1(src + f"{size}:{SIZES[size]}:{FIXTURE_SEED}".encode()).hexdigest()


def ensure(cache_dir: str, size: str) -> tuple[str, str, str]:
    """Write (or reuse) the fixture for ``size`` under ``cache_dir``.

    Returns (mix_dir, mover_dir, stamp). A stamp file keyed by this
    module's source and the size guards reuse, so an edited generator
    regenerates instead of serving stale files.
    """
    stamp = _stamp(size)
    root = os.path.join(cache_dir, size)
    stamp_path = os.path.join(root, "STAMP")
    mix_dir, mover_dir = os.path.join(root, "mix"), os.path.join(root, "mover")
    try:
        with open(stamp_path) as f:
            if f.read().strip() == stamp:
                return mix_dir, mover_dir, stamp
    except FileNotFoundError:
        pass
    tmp = root + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    mix, mover = build_tables(SIZES[size])
    for sub, tables in (("mix", mix), ("mover", mover)):
        os.makedirs(os.path.join(tmp, sub))
        for name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, sub, f"{name}.parquet"))
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(root, ignore_errors=True)
    os.replace(tmp, root)
    return mix_dir, mover_dir, stamp
