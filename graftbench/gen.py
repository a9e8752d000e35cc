"""Deterministic generator for the benchmark's input tables.

Writes the ten tables graft's queries read (region nation customer
supplier part orders lineitem events documents embeddings), one parquet
file each, with the column names, types and value distributions of the
TPC-H-style test tables graft is developed against: uniform keys and
measures, a 30-word document vocabulary with ~5% near-duplicates (an
earlier document plus a trailing "dup") and a few exact duplicates,
and unit-norm 64-dimensional float embeddings with ten labels.

The output depends only on the arguments, never on the clock, so every
run of the benchmark reads the same bytes for the same arguments.

Usage: python3 gen.py <outDir> <sf> [docsSf]
  sf      scales the relational and event tables (0.1 = 600k lineitems)
  docsSf  scales documents and embeddings (0.1 = 5,000 documents and
          2,000 embeddings; default sf)
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
ADJ = "blue large hot red new small cold green".split()
NOUN = "anvil ring bolt rod plate widget gear spring".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENTS = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30, compression="snappy")


def documents(rng, n):
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.0516:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64):
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def generate(out, sf, docs_sf=None):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(42)
    n = {k: max(1, int(round(v * sf))) for k, v in dict(
        customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
        lineitem=6_000_000, events=1_000_000, users=15_000).items()}
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(rng, SEGMENTS, c)})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s))})
    p = n["part"]
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": _pick(rng, names, p),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], p),
        "p_type": _pick(rng, TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(p) % 1000) / 10, 1))})
    o = n["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, o)),
        "o_orderdate": pa.array(_days(rng, o, "1995-01-01", 2405)),
        "o_orderpriority": _pick(rng, PRIORITIES, o)})
    li = n["lineitem"]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": pa.array(_days(rng, li, "1995-01-02", 2499))})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    _write(out, "events", {
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n["users"], e, dtype=np.int64)),
        "event_type": _pick(rng, EVENTS, e),
        "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)], pa.string())})
    docs_sf = sf if docs_sf is None else docs_sf
    _write(out, "documents", documents(rng, max(1, int(round(50_000 * docs_sf)))))
    _write(out, "embeddings", embeddings(rng, max(1, int(round(20_000 * docs_sf)))))


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        sys.exit(__doc__)
    generate(sys.argv[1], float(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) == 4 else None)
