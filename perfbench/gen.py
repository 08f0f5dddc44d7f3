"""Seeded input generator for the benchmark.

The engine's queries read ten parquet tables from one ``sf_dir``
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings). This module synthesizes them with the same
physical schema and value shapes as the engine's sf-family test data,
then derives each workload's inputs from the seed:

- ``base(scale)`` is seed-independent: the canonical tables at one
  scale factor, including ~5% planted near-duplicate documents and
  structure-free unit embeddings.
- ``replicate(tables, copies)`` stacks ``copies`` copies of the
  relational tables with per-copy key offsets, so every foreign key of
  a copy lands on a row of the same copy.
- ``permute(tables, seed)`` shuffles the row order of every table: a
  layout change that leaves every query result unchanged.
- ``stream_batches(docs, seed, ...)`` shuffles the documents and splits
  them into the micro-batch files a streaming source drains in order.

Everything is a pure function of its arguments; ``materialize`` writes
the result under a cache directory and reuses it per (workload, seed).
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Mapping

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# Base seed of the canonical tables. Workload seeds act on layout and
# batch order only, so the work a query does is the same for every seed.
_BASE_SEED = 20261016

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the a "
    "line sort window order data column join small customer query big group "
    "stream filter vector"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.42, 0.15, 0.15, 0.14, 0.14]
_N_SOURCES = 20
_EMB_DIM = 64

# Foreign key -> referenced primary key.
FOREIGN_KEYS = {
    ("nation", "n_regionkey"): ("region", "r_regionkey"),
    ("customer", "c_nationkey"): ("nation", "n_nationkey"),
    ("supplier", "s_nationkey"): ("nation", "n_nationkey"),
    ("orders", "o_custkey"): ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"): ("orders", "o_orderkey"),
    ("lineitem", "l_partkey"): ("part", "p_partkey"),
    ("lineitem", "l_suppkey"): ("supplier", "s_suppkey"),
}
# Tables whose keys ``replicate`` shifts per copy; region and nation are
# shared by every copy.
REPLICATED_KEYS = {"customer": "c_custkey", "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey"}
_NAME_COLS = {"customer": ("c_name", "Customer"), "supplier": ("s_name", "Supplier")}

Tables = dict[str, pa.Table]


def _ts(days: np.ndarray, start: str) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    # exactly-2-decimal doubles: the engine's exact-decimal aggregation
    # relies on it
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate of an earlier doc
            words = texts[int(rng.integers(0, i))].split()
            edit = int(rng.integers(0, 3))
            if edit == 0:
                words.append("dup")
            elif edit == 1 and len(words) > 10:
                words.pop()
            else:
                words[int(rng.integers(0, len(words)))] = _VOCAB[
                    int(rng.integers(0, len(_VOCAB)))
                ]
        else:
            words = [_VOCAB[j] for j in rng.integers(0, len(_VOCAB), rng.integers(10, 101))]
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % _N_SOURCES}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * _EMB_DIM + 1, _EMB_DIM, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def base(scale: float) -> Tables:
    """Canonical tables at scale factor ``scale`` (lineitem ~6M·scale
    rows; at least 500 documents and embeddings)."""
    rng = np.random.default_rng(_BASE_SEED)
    n_cust = max(1, round(150_000 * scale))
    n_supp = max(1, round(10_000 * scale))
    n_part = max(1, round(200_000 * scale))
    n_ord = max(1, round(1_500_000 * scale))
    n_line = max(1, round(6_000_000 * scale))
    n_ev = max(1, round(1_000_000 * scale))
    n_users = max(1, round(15_000 * scale))
    n_docs = max(500, round(50_000 * scale))
    n_emb = max(500, round(20_000 * scale))

    t: Tables = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    nk = np.arange(25, dtype=np.int32)
    t["nation"] = pa.table({
        "n_nationkey": nk,
        "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
        "n_regionkey": nk % 5,
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust).tolist(), pa.string()),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = rng.choice(_PART_ADJ, n_part)
    noun = rng.choice(_PART_NOUN, n_part)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part).tolist(), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord).tolist(), pa.string()),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2404, n_ord), "1995-01-01"),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord).tolist(), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line).tolist(), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line).tolist(), pa.string()),
        "l_shipdate": _ts(rng.integers(1, 2499, n_line), "1995-01-01"),
    })
    ev_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ev_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev).tolist(), pa.string()),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()),
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def _shifted_cols(table: str) -> dict[str, str]:
    """Key columns of ``table`` that ``replicate`` shifts -> the
    replicated table whose row count sets the shift."""
    cols = {REPLICATED_KEYS[table]: table} if table in REPLICATED_KEYS else {}
    for (t, col), (ref, _) in FOREIGN_KEYS.items():
        if t == table and ref in REPLICATED_KEYS:
            cols[col] = ref
    return cols


def replicate(tables: Mapping[str, pa.Table], copies: int) -> Tables:
    """``copies`` stacked copies of the relational tables; copy ``c``
    shifts every replicated key by ``c`` x the keyed table's row count,
    so foreign keys stay inside their copy. Region, nation and the
    corpus tables are kept once."""
    out: Tables = dict(tables)
    width = {name: tables[name].num_rows for name in REPLICATED_KEYS}
    for name in TABLES:
        cols = _shifted_cols(name)
        if not cols:
            continue
        parts = []
        for c in range(copies):
            tab = tables[name]
            for col, ref in cols.items():
                shifted = np.asarray(tab[col]) + np.int64(c * width[ref])
                tab = tab.set_column(tab.schema.get_field_index(col), col, pa.array(shifted))
            if name in _NAME_COLS:
                col, label = _NAME_COLS[name]
                keys = np.asarray(tab[REPLICATED_KEYS[name]])
                names = pa.array([f"{label}#{k:09d}" for k in keys], pa.string())
                tab = tab.set_column(tab.schema.get_field_index(col), col, names)
            parts.append(tab)
        out[name] = pa.concat_tables(parts)
    return out


def permute(tables: Mapping[str, pa.Table], seed: int) -> Tables:
    """Seeded row-order shuffle of every table (layout only)."""
    out: Tables = {}
    for i, name in enumerate(TABLES):
        tab = tables[name]
        rng = np.random.default_rng([seed, i])
        out[name] = tab.take(pa.array(rng.permutation(tab.num_rows)))
    return out


def stream_batches(docs: pa.Table, seed: int, n_batches: int, batch_docs: int) -> list[pa.Table]:
    """Micro-batch files in drain order: batch ``b`` holds the docs with
    ids in ``[b, b + 1) x batch_docs``, rows shuffled by the seed. Which
    batch a doc arrives in decides what dedupe keeps and how much work
    each batch does, so the split is fixed and the seed acts on layout
    only. Planted near-duplicates point at lower ids, so later batches
    meet duplicates of earlier ones."""
    rng = np.random.default_rng([seed, len(TABLES)])
    cols = docs.select(["doc_id", "text", "lang", "source"])
    out = []
    for b in range(n_batches):
        part = cols.filter(pc.and_(
            pc.greater_equal(cols["doc_id"], b * batch_docs),
            pc.less(cols["doc_id"], (b + 1) * batch_docs),
        )).sort_by("doc_id")
        out.append(part.take(pa.array(rng.permutation(part.num_rows))))
    return out


def write_tables(tables: Mapping[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(sf_dir, f"{name}.parquet"))


def materialize(spec: Mapping, seed: int, cache_dir: str) -> dict:
    """Write the inputs of one workload spec for ``seed`` (once) and
    return their paths: ``sf_dir`` and, for streaming specs,
    ``stream_dir`` with one parquet file per micro-batch.

    ``spec`` keys: ``scale``, ``copies``, and optionally ``n_batches`` /
    ``batch_docs``."""
    key = json.dumps({**spec, "seed": seed}, sort_keys=True)
    tag = f"{spec['name']}-{seed}"
    out = os.path.join(cache_dir, tag)
    done = os.path.join(out, "_SPEC")
    paths = {"sf_dir": os.path.join(out, "sf")}
    if spec.get("n_batches"):
        paths["stream_dir"] = os.path.join(out, "stream")
    if os.path.exists(done):
        with open(done) as fh:
            if fh.read() == key:
                return paths
    shutil.rmtree(out, ignore_errors=True)
    tables = base(spec["scale"])
    if spec.get("copies", 1) > 1:
        tables = replicate(tables, spec["copies"])
    tables = permute(tables, seed)
    write_tables(tables, paths["sf_dir"])
    if spec.get("n_batches"):
        os.makedirs(paths["stream_dir"])
        batches = stream_batches(tables["documents"], seed, spec["n_batches"], spec["batch_docs"])
        for b, tab in enumerate(batches):
            pq.write_table(tab, os.path.join(paths["stream_dir"], f"part-{b:05d}.parquet"))
    with open(done, "w") as fh:
        fh.write(key)
    return paths
