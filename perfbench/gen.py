"""Seeded generator for the benchmark's input tables.

The tables follow the schema and value profile of the engine's testdata
(a TPC-H-ish star schema plus `events`, `documents` and `embeddings`):
the same column names and physical types, the same key spaces per scale
factor, and the same categorical domains. Values are drawn from one
numpy Generator seeded with `--seed`, so one seed always gives the same
bytes.

`copies > 1` replicates the base world K times with the key-shift scheme
of the engine's scale-stress generator: entity keys and their foreign
keys shift by `copy * max_key`, documents rotate their tokens by 7*copy
positions, embeddings get +-1% deterministic noise. Each table then goes
to a directory with one part file per copy, so a scan has K splits.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.145, 0.145]
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")


def sizes(sf):
    return {
        "customer": int(round(150_000 * sf)),
        "supplier": int(round(10_000 * sf)),
        "part": int(round(200_000 * sf)),
        "orders": int(round(1_500_000 * sf)),
        "lineitem": int(round(6_000_000 * sf)),
        "events": int(round(1_000_000 * sf)),
        "documents": max(500, int(round(50_000 * sf))),
        "embeddings": max(500, int(round(20_000 * sf))),
    }


def money(rng, lo, hi, n):
    """Uniform cents in [lo, hi], as exact two-decimal doubles."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def base_tables(sf, seed):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": names[rng.integers(0, len(names), npart)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2405, no) * DAY_US,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": EPOCH_1995 + (1 + rng.integers(0, 2499, nl)) * DAY_US})
    ne = n["events"]
    ts = np.sort(rng.integers(0, 30 * DAY_US, ne))
    users = max(1, ne * 3 // 200)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": EPOCH_2024 + ts,
        "user_id": pa.array(rng.integers(0, users, ne).astype(np.int64)),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.gamma(2.0, 25.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for ln in lens:
        texts.append(" ".join(vocab[words[pos:pos + ln]]))
        pos += ln
    # ~5% near-duplicates: an earlier document's text plus a marker token,
    # and a handful of exact copies of those, as dedup operators expect
    dup = np.flatnonzero(rng.random(nd) < 0.05)
    for i in dup:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in dup[::32]:
        j = int(rng.integers(0, nd))
        if j != i:
            texts[j] = texts[i]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, nd, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64))})
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    label = rng.integers(0, 10, nv)
    emb = centers[label] * 0.35 + rng.normal(0.0, 1.0, (nv, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    return t


def _shift(tbl, shifts, copy):
    cols = {}
    for name in tbl.column_names:
        col = tbl[name]
        if name in shifts and copy:
            col = pa.array(col.to_numpy() + copy * shifts[name])
        cols[name] = col
    return pa.table(cols)


def _rotate(texts, copy):
    out = []
    for s in texts:
        toks = s.split()
        k = (7 * copy) % max(len(toks), 1)
        out.append(" ".join(toks[k:] + toks[:k]))
    return out


def replica(tables, name, copy):
    """Copy `copy` of table `name`, with the scale generator's key shifts."""
    t = tables[name]
    if copy == 0 or name in ("region", "nation"):
        return t
    mx = {k: len(tables[k]) for k in
          ("customer", "supplier", "part", "orders", "events",
           "documents", "embeddings")}
    users = int(pa.compute.max(tables["events"]["user_id"]).as_py()) + 1
    shifts = {
        "customer": {"c_custkey": mx["customer"]},
        "supplier": {"s_suppkey": mx["supplier"]},
        "part": {"p_partkey": mx["part"]},
        "orders": {"o_orderkey": mx["orders"], "o_custkey": mx["customer"]},
        "lineitem": {"l_orderkey": mx["orders"], "l_partkey": mx["part"],
                     "l_suppkey": mx["supplier"]},
        "events": {"event_id": mx["events"], "user_id": users},
        "documents": {"doc_id": mx["documents"]},
        "embeddings": {"vec_id": mx["embeddings"]},
    }[name]
    t = _shift(t, shifts, copy)
    if name == "documents":
        texts = _rotate(t["text"].to_pylist(), copy)
        t = t.set_column(t.column_names.index("text"), "text", pa.array(texts))
        t = t.set_column(t.column_names.index("n_chars"), "n_chars",
                         pa.array([len(x) for x in texts], type=pa.int64()))
    if name == "embeddings":
        emb = np.stack(t["embedding"].to_numpy(zero_copy_only=False))
        ids = t["vec_id"].to_numpy()
        h = (ids[:, None] * 1_000_003 + copy * 7919 +
             np.arange(64)[None, :] * 104_729) % 2000
        emb = (emb + (h / 1000.0 - 1.0) * 0.01).astype(np.float32)
        t = t.set_column(t.column_names.index("embedding"), "embedding",
                         pa.array(list(emb), type=pa.list_(pa.float32())))
    return t


def generate(out_dir, sf, seed, copies=1):
    """Write every table under `out_dir`; returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    tables = base_tables(sf, seed)
    rows = {}
    for name in tables:
        if copies == 1:
            pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
            rows[name] = len(tables[name])
            continue
        d = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        reps = [0] if name in ("region", "nation") else range(copies)
        rows[name] = 0
        for c in reps:
            part = replica(tables, name, c)
            pq.write_table(part, os.path.join(d, f"part-{c:05d}.parquet"))
            rows[name] += len(part)
    return rows
