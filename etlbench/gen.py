"""Seeded input generator for the benchmark.

Writes the ten tables the pipeline's catalog reads (the TPC-H-style star
schema, `events`, `documents`, `embeddings`) as one parquet file each, with
the same schemas and value distributions as the pipeline's reference test
data. Everything is a pure function of (seed, scale, doc_copies): the same
arguments give byte-identical tables.

`doc_copies` > 1 scales the corpus tables up with the pipeline's own
scale-up scheme (graft.tools.GenScale): copy i re-keys ids by i * 1e10,
rotates two disjoint 10-letter alphabets in `documents.text` (every shingle
changes, length and duplicate structure survive) and applies a per-copy
diagonal sign flip to `embeddings` (an orthogonal map: within-copy cosines
are exact, cross-copy vectors decorrelate). Copies therefore do not become
artificial near-duplicates of each other.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
ADJ = "large hot red cold old new small blue".split()
NOUN = "ring plate gear anvil gizmo widget bolt lamp".split()
KEY_OFFSET = 10_000_000_000
ALPHA1, ALPHA2 = "aeiounrstl", "cdmpbghfwk"


def _ts(start, end, n, rng, unit_days=True):
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    if unit_days:
        day = 86_400_000_000
        v = lo + rng.integers(0, (hi - lo) // day + 1, n) * day
    else:
        v = np.sort(rng.integers(lo, hi, n))
    return pa.array(v, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _strings(choices, idx):
    return pa.array(np.asarray(choices, dtype=object)[idx])


def _tables(seed, scale):
    rng = np.random.default_rng([seed, 1])
    n_c, n_s, n_p = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_o, n_l, n_e = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_d, n_v, n_u = int(50_000 * scale), int(20_000 * scale), max(1, int(15_000 * scale))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": rng.integers(0, 25, n_c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": _strings(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                  "MACHINERY"], rng.integers(0, 5, n_c))})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": rng.integers(0, 25, n_s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s)})
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n_p, dtype=np.int64),
        "p_name": _strings(names, rng.integers(0, len(names), n_p)),
        "p_brand": _strings([f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_p)),
        "p_type": _strings(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                           rng.integers(0, 6, n_p)),
        "p_size": rng.integers(1, 51, n_p).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_o, dtype=np.int64),
        "o_custkey": rng.integers(0, n_c, n_o, dtype=np.int64),
        "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, n_o)),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _ts("1995-01-01", "2001-08-01", n_o, rng),
        "o_orderpriority": _strings(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"], rng.integers(0, 5, n_o))})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_o, n_l, dtype=np.int64),
        "l_partkey": rng.integers(0, n_p, n_l, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_s, n_l, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_l).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_l),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_l), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_l), 2),
        "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n_l)),
        "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n_l)),
        "l_shipdate": _ts("1995-01-02", "2001-11-04", n_l, rng)})
    t["events"] = pa.table({
        "event_id": np.arange(n_e, dtype=np.int64),
        "ts": _ts("2024-01-01", "2024-01-31", n_e, rng, unit_days=False),
        "user_id": rng.integers(0, n_u, n_e, dtype=np.int64),
        "event_type": _strings(["click", "error", "purchase", "signup", "view"],
                               rng.integers(0, 5, n_e)),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": _strings([f'{{"k": {k}}}' for k in range(100)], rng.integers(0, 100, n_e))})
    texts = [" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
             for _ in range(n_d)]
    # 5% near-duplicates: the text of another document plus one marker token
    for i in np.flatnonzero(rng.random(n_d) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_d))] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_d, dtype=np.int64),
        "text": texts,
        "lang": _strings(["en", "zh", "de", "fr", "es"],
                         rng.choice(5, n_d, p=[0.41, 0.1475, 0.1475, 0.1475, 0.1475])),
        "source": [f"src{i % 20}" for i in range(n_d)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    emb = rng.standard_normal((n_v, 64))
    # 5% near-duplicates (cosine ~0.93 to another vector) for the similarity ops
    near = np.flatnonzero(rng.random(n_v) < 0.05)
    emb[near] = emb[rng.integers(0, n_v, near.size)] / 8.0 + rng.normal(0.0, 0.05, (near.size, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_v, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_v).astype(np.int32)})
    return t


def _rotated(a, r):
    r %= len(a)
    return a[r:] + a[:r]


def _scale_corpus(t, seed, copies):
    """GenScale's rotate / sign-flip scale-up of `documents` and `embeddings`."""
    docs, embs = t["documents"], t["embeddings"]
    dparts, eparts = [], []
    emb = np.stack(embs.column("embedding").to_numpy(zero_copy_only=False))
    for i in range(copies):
        tr = str.maketrans(ALPHA1 + ALPHA2, _rotated(ALPHA1, i % 10) + _rotated(ALPHA2, i // 10 % 10))
        text = [s.translate(tr) for s in docs.column("text").to_pylist()]
        dparts.append(docs.set_column(0, "doc_id", pa.array(
            docs.column("doc_id").to_numpy() + i * KEY_OFFSET))
            .set_column(1, "text", pa.array(text)))
        sign = np.where(np.random.default_rng([seed, 2, i]).random(emb.shape[1]) < 0.5, -1.0, 1.0)
        flipped = (emb * sign if i > 0 else emb).astype(np.float32)
        eparts.append(embs.set_column(0, "vec_id", pa.array(
            embs.column("vec_id").to_numpy() + i * KEY_OFFSET))
            .set_column(1, "embedding", pa.array(list(flipped), type=pa.list_(pa.float32()))))
    t["documents"] = pa.concat_tables(dparts)
    t["embeddings"] = pa.concat_tables(eparts)


def generate(out_dir, seed, scale, doc_copies=1):
    """Write the tables under `out_dir` (skipped when already complete).
    Returns {table: rows}."""
    done = os.path.join(out_dir, "_ROWS")
    if os.path.exists(done):
        with open(done) as f:
            return json.load(f)
    pa.set_cpu_count(max(1, min(4, os.cpu_count() or 1)))
    tables = _tables(seed, scale)
    if doc_copies > 1:
        _scale_corpus(tables, seed, doc_copies)
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    rows = {name: tbl.num_rows for name, tbl in tables.items()}
    with open(os.path.join(tmp, "_ROWS"), "w") as f:
        json.dump(rows, f)
    os.rename(tmp, out_dir)
    return rows
