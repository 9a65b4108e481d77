"""Deterministic input generator for the benchmark.

Writes the ten catalog tables (the TPC-H-shaped star schema plus `events`,
`documents` and `embeddings`) as one single-row-group parquet file each,
with the same schemas, value domains and near-duplicate structure as the
engine's reference testdata, at a chosen scale factor. Row counts scale as
the reference does: lineitem = 6M x sf, orders = 1.5M x sf, and so on.

`twin_board` lays out the x K twin used by the near-dup workload as
`graft.ScaleSmoke.build` does: every key column shifts by a per-copy
offset and dims stay single-copy. The copies' texts and vectors come from
the caller (`run.py` mutates them with ScaleSmoke's own mutators).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
US_PER_DAY = 86_400_000_000
ORDER_EPOCH_US = 788_918_400_000_000  # 1995-01-01
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01
KEY_OFFSET = 1_000_000_000  # > any key at the scales used here

KEY_COLS = {
    "customer": ["c_custkey"], "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"], "supplier": ["s_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"]}


def _write(out_dir, name, table):
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us):
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def base_tables(sf, seed=42):
    """The ten tables at scale factor `sf` as pyarrow tables."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(ORDER_EPOCH_US + rng.integers(0, 2405, n_ord) * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": rng.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(ORDER_EPOCH_US + rng.integers(1, 2500, n_line) * US_PER_DAY)})
    ev_us = np.sort(rng.integers(0, 30 * US_PER_DAY, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(EVENT_EPOCH_US + ev_us),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    t["documents"] = _documents(rng, n_doc)
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vec = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.5 * centroids[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vec.astype("float32")), pa.list_(pa.float32())),
        "label": labels.astype("int32")})
    return t


def _documents(rng, n):
    """Uniform 10-100 word texts over a 30-word vocabulary; 5% are a copy
    of an earlier document with the token `dup` inserted (near-dups) and
    a handful are exact copies."""
    words = [list(np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))])
             for _ in range(n)]
    for i in rng.choice(np.arange(n // 2, n), size=max(1, n // 20), replace=False):
        w = list(words[rng.integers(0, n // 2)])
        w.insert(int(rng.integers(0, len(w) + 1)), "dup")
        words[i] = w
    for i in rng.choice(np.arange(n // 2, n), size=max(1, n // 600), replace=False):
        words[i] = list(words[rng.integers(0, n // 2)])
    text = [" ".join(w) for w in words]
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"), "text": text,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in text], dtype="int64")})


def twin_board(base, k, texts, vecs):
    """The x k twin of `base` (dims stay single-copy). `texts[i]` and
    `vecs[i]` are the documents' texts and the embeddings' vectors of copy
    i, in base row order."""
    out = {"region": base["region"], "nation": base["nation"]}
    for name, keys in KEY_COLS.items():
        copies = []
        for i in range(k):
            cols = {c: base[name].column(c).to_numpy(zero_copy_only=False)
                    for c in base[name].column_names}
            for c in keys:
                cols[c] = cols[c] + i * KEY_OFFSET
            if name == "documents":
                cols["text"] = texts[i]
                cols["n_chars"] = np.array([len(s) for s in texts[i]], dtype="int64")
            if name == "embeddings":
                cols["embedding"] = pa.array(vecs[i], pa.list_(pa.float32()))
            copies.append(pa.table(cols).cast(base[name].schema))
        out[name] = pa.concat_tables(copies)
    return out


def write_all(tables, out_dir):
    for name in TABLES:
        _write(out_dir, name, tables[name])
