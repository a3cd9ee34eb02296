"""Seeded input generator for the benchmark.

Writes the ten fixture tables the engine's query packs read (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings) as parquet, with the schemas and value distributions of the
engine's test fixtures. Nothing here calls the engine, so an engine change
cannot change the benchmark's inputs.

* ``base(sf)`` draws one scale factor from a fixed seed: the same bytes on
  every call.
* ``replica(sf, reps, seed)`` copies a base ``reps`` times with disjoint key
  spaces, like a bulk-loaded HBase table grown by new regions. Every entity
  key of copy ``i`` shifts by the same offset in every table, so joins keep
  their selectivity. Copy 0 keeps the base keys; the offsets of the other
  copies come from ``seed``. Dimension tables (region, nation) are shared.
  Each copy is one key-clustered parquet file per table.
"""
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

BASE_SEED = 42
KEY_SPACING = 1_000_000_000  # larger than any base key at sf <= 10
KEEP_REPLICAS = 2  # a 10x replica of sf0.1 takes ~170 MB

VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.4, 0.15, 0.15, 0.16]

# entity keys per table, shifted together in a replica
KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def _rng(table):
    # one stream per table: adding a table never reshuffles another
    return np.random.default_rng([BASE_SEED, TABLES.index(table)])


def _money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def _pick(r, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)],
                    pa.string())


def _days(r, start, span, n):
    return pa.array(start + r.integers(0, span, n) * np.timedelta64(1, "D"),
                    pa.timestamp("us"))


def _counts(sf):
    def n(at_sf01, floor=1):
        return max(floor, int(round(at_sf01 * sf / 0.1)))
    return {"customer": n(15000), "supplier": n(1000), "part": n(20000),
            "orders": n(150000), "lineitem": n(600000), "events": n(100000),
            "documents": n(5000, 500), "embeddings": n(2000, 500),
            "users": n(1500)}


def _documents(n):
    r = _rng("documents")
    lens = r.integers(10, 101, n)
    words = r.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.asarray(VOCAB, dtype=object)
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[at:at + k]]))
        at += k
    # a crawl has duplicates: 1% exact copies and 2% one-word edits of an
    # earlier document, so the dedup operators find real pairs
    for i in range(1, n):
        u = r.random()
        if u < 0.03:
            src = texts[int(r.integers(0, i))]
            if u >= 0.01:
                toks = src.split(" ")
                toks[int(r.integers(0, len(toks)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
                src = " ".join(toks)
            texts[i] = src
    text = pa.array(texts, pa.string())
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": _pick(r, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    })


def _embeddings(n, dim=64):
    r = _rng("embeddings")
    v = r.standard_normal((n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(v.reshape(-1)))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(r.integers(0, 10, n).astype(np.int32)),
    })


def base_tables(sf):
    """All ten tables at scale factor ``sf`` as Arrow tables."""
    c = _counts(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    r, n = _rng("customer"), c["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(r, SEGMENTS, n)})
    r, n = _rng("supplier"), c["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n))})
    r, n = _rng("part"), c["part"]
    keys = np.arange(n, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, n), r.integers(0, 8, n))]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n)]),
        "p_type": _pick(r, TYPES, n),
        "p_size": pa.array(r.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) * 0.1, 2))})
    r, n = _rng("orders"), c["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, c["customer"], n, dtype=np.int64)),
        "o_orderstatus": _pick(r, ["F", "O", "P"], n),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n)),
        "o_orderdate": _days(r, EPOCH_1995, 2405, n),
        "o_orderpriority": _pick(r, PRIORITIES, n)})
    r, n = _rng("lineitem"), c["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, c["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, c["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, c["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n)),
        "l_discount": pa.array(np.round(r.integers(0, 11, n) * 0.01, 2)),
        "l_tax": pa.array(np.round(r.integers(0, 9, n) * 0.01, 2)),
        "l_returnflag": _pick(r, ["A", "N", "R"], n),
        "l_linestatus": _pick(r, ["F", "O"], n),
        "l_shipdate": _days(r, EPOCH_1995 + np.timedelta64(1, "D"), 2499, n)})
    r, n = _rng("events"), c["events"]
    gaps = r.exponential(1.0, n)
    offs = (np.cumsum(gaps) / gaps.sum() * 30 * DAY_US * 0.9995).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, c["users"], n, dtype=np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n),
        "value": pa.array(np.round(r.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)])})
    t["documents"] = _documents(c["documents"])
    t["embeddings"] = _embeddings(c["embeddings"])
    return t


def _done(path):
    return os.path.exists(os.path.join(path, "_COMPLETE"))


def _publish(tmp, path):
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)


def base(root, sf):
    """Directory holding the fixed base tables at ``sf`` (built once)."""
    path = os.path.join(root, f"sf{sf}")
    if not _done(path):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, tab in base_tables(sf).items():
            pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
        _publish(tmp, path)
    return path


def offsets(reps, seed):
    """Key offset of each copy: copy 0 keeps the base keys."""
    r = np.random.default_rng([BASE_SEED, 1000 + seed])
    jitter = r.integers(0, KEY_SPACING // 10, reps)
    return [0] + [int(i * KEY_SPACING + jitter[i]) for i in range(1, reps)]


def replica(root, sf, reps, seed):
    """Directory holding a ``reps``-fold replica of the sf base for
    ``seed``; returns (path, seconds spent generating, 0 if cached).
    Keeps the KEEP_REPLICAS most recently used replicas on disk."""
    path = os.path.join(root, f"sf{sf}x{reps}-seed{seed}")
    t0 = time.monotonic()
    if not _done(path):
        tabs = base_tables(sf)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        offs = offsets(reps, seed)

        def write(name, i):
            tab = tabs[name]
            if name not in KEYS:
                return pq.write_table(tab, os.path.join(tmp, f"{name}.parquet"))
            for k in KEYS[name]:
                j = tab.schema.get_field_index(k)
                tab = tab.set_column(j, k, pc.add(tab.column(k),
                                                  pa.scalar(offs[i], pa.int64())))
            pq.write_table(tab, os.path.join(tmp, f"{name}.parquet", f"part-{i:05d}.parquet"))

        for name in KEYS:
            os.makedirs(os.path.join(tmp, f"{name}.parquet"))
        jobs = [(n, 0) for n in tabs if n not in KEYS]
        jobs += [(n, i) for n in KEYS for i in range(reps)]
        with ThreadPoolExecutor(os.cpu_count()) as pool:
            list(pool.map(lambda job: write(*job), jobs))
        _publish(tmp, path)
        gen_s = time.monotonic() - t0
    else:
        gen_s = 0.0
        os.utime(path)
    prefix = f"sf{sf}x{reps}-seed"
    cached = sorted((e for e in os.listdir(root) if e.startswith(prefix)
                     and not e.endswith(".tmp")),
                    key=lambda e: os.path.getmtime(os.path.join(root, e)))
    for old in cached[:-KEEP_REPLICAS]:
        shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    return path, gen_s
