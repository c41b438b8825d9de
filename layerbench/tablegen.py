"""Seeded generator of the engine's ten query tables: a TPC-H-style star
schema plus `events`, `documents` and `embeddings`, with the column names,
physical types and value distributions the registered queries are written
against. The same seed always gives the same files. Sizes scale with `sf`
like the standard scale factors (sf = 0.1 gives 600k lineitem rows); each
table is one parquet file, `<dir>/<table>.parquet/part-0.parquet`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query stream the row line fast spark customer group small vector column part "
         "scan agg table slow key order window join a merge hash value filter data sort "
         "batch big").split()
DAY_US = 86_400_000_000


def _sizes(sf):
    def n(base, lo):
        return max(lo, round(base * sf))
    return dict(customer=n(150_000, 50), supplier=n(10_000, 10), part=n(200_000, 50),
                orders=n(1_500_000, 100), lineitem=n(6_000_000, 400),
                events=n(1_000_000, 2000), users=1500, documents=n(50_000, 100),
                embeddings=n(50_000, 200))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())


def _money(rng, lo, hi, n):
    return pa.array(np.round(lo + rng.random(n) * (hi - lo), 2))


def _ts(start, micros):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + micros.astype(np.int64), pa.timestamp("us"))


def tables(sf, seed):
    z = _sizes(sf)
    rng = np.random.default_rng(seed)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = z["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": _pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING",
                                    "FURNITURE"], n)})
    n = z["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = z["part"]
    adj = np.asarray("blue old large hot cold small new red".split(), dtype=object)
    noun = np.asarray("widget gizmo ring gear bolt plate rod anvil".split(), dtype=object)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array(adj[rng.integers(0, 8, n)] + " " + noun[rng.integers(0, 8, n)],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2))})
    n = z["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, z["customer"], n, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n) * DAY_US),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n)})
    n = z["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, z["orders"], n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, z["part"], n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, z["supplier"], n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _ts("1995-01-01", rng.integers(0, 2600, n) * DAY_US)})
    # an append-only log: ids in time order over 30 days
    n = z["events"]
    step = 30 * DAY_US / n
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts("2024-01-01", (np.arange(n) + rng.random(n)) * step),
        "user_id": pa.array(rng.integers(0, z["users"], n, dtype=np.int64)),
        "event_type": _pick(rng, ["signup", "click", "error", "view", "purchase"], n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string())})
    # word salad; one document in twenty repeats an earlier one plus a token,
    # so the near-duplicate joins have true matches to find
    n = z["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(8, 101))]))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.where(rng.random(n) < 0.6, "en",
                                  np.asarray(["de", "es", "fr", "zh"])[rng.integers(0, 4, n)]),
                         pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    # ten Gaussian clusters on the unit sphere in 64 dimensions
    n = z["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, 64))
    v = centers[labels] + 0.6 * rng.normal(size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def write(directory, sf, seed):
    for name, t in tables(sf, seed).items():
        d = os.path.join(directory, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        pq.write_table(t, os.path.join(d, "part-0.parquet"))
