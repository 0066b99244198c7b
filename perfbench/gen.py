"""Seeded input generator for the benchmark workloads.

Writes the FIXTURES.md schemas (TPC-H-shaped star schema, events,
documents, embeddings), one parquet file per table, into a directory.
The same (seed, shape) always gives byte-identical files.

Usage: python3 perfbench/gen.py <out_dir> <seed> <shape>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("query row stream the batch sort value hash filter big data dup "
         "spark line small fast group customer part column order scan a "
         "slow agg key window table merge vector join").split()
LANGS = ["en", "en", "en", "en", "en", "fr", "zh", "de", "es", "fr", "zh",
         "de", "es"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_US = 86_400_000_000
EVENTS_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TPCH_T0_US = 788_918_400_000_000      # 1995-01-01T00:00:00Z

# Row counts per shape. `lineitem` sets the star schema (TPC-H ratios);
# `dup_exact`/`dup_near` are the shares of documents in exact-duplicate
# clusters and near-duplicate copies; `late` is the share of events whose
# timestamp is pushed back behind already-seen events.
SHAPES = {
    "olap": dict(lineitem=60000, events=10000, users=1500, documents=500,
                 embeddings=500, dup_exact=0.0, dup_near=0.0, late=0.02),
    "corpus": dict(lineitem=6000, events=1000, users=100, documents=2000,
                   embeddings=500, dup_exact=0.2, dup_near=0.2, late=0.02),
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star(rng, n_li):
    n_cust, n_supp, n_part, n_ord = n_li // 40, n_li // 600, n_li // 30, n_li // 4
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(TPCH_T0_US + rng.integers(0, 2405, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(TPCH_T0_US + rng.integers(1, 2499, n_li) * DAY_US)})
    return t


def events(rng, n, users, late):
    # Arrival order is event_id order; timestamps rise through 30 days and
    # a `late` share is pushed back behind events that arrived before it.
    ts = np.sort(rng.integers(0, 30 * DAY_US, n))
    is_late = rng.random(n) < late
    ts = ts - np.where(is_late, rng.integers(60_000_000, 3_600_000_000, n), 0)
    ts = np.maximum(ts, 0) + EVENTS_T0_US
    user = rng.integers(0, users, n, dtype=np.int64)
    user[:min(users, n)] = rng.permutation(users)[:n]  # every user appears
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(user),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.gamma(2.0, 40.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def _edit(rng, toks):
    toks = list(toks)
    for _ in range(int(rng.integers(1, 4))):
        op, i = int(rng.integers(0, 3)), int(rng.integers(0, len(toks)))
        word = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if op == 0:
            toks[i] = word
        elif op == 1:
            toks.insert(i, word)
        elif len(toks) > 10:
            del toks[i]
    return toks


def documents(rng, n, dup_exact, dup_near):
    """Exact-duplicate clusters of 2-8 identical texts cover `dup_exact`
    of the corpus, single near copies (1-3 token edits) cover `dup_near`;
    the rest are independent draws. Returns the table and the realised
    shares."""
    def draw():
        return [VOCAB[i] for i in rng.integers(0, len(VOCAB),
                                               int(rng.integers(10, 101)))]
    texts, kind = [], []
    while len(texts) < round(n * dup_exact):
        size = min(int(rng.integers(2, 9)), round(n * dup_exact) - len(texts))
        if size < 2:
            break
        base = " ".join(draw())
        texts += [base] * size
        kind += ["exact"] * size
    n_near = round(n * dup_near) // 2
    for _ in range(n_near):
        base = draw()
        texts += [" ".join(base), " ".join(_edit(rng, base))]
        kind += ["near_base", "near"]
    while len(texts) < n:
        texts.append(" ".join(draw()))
        kind.append("unique")
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(x) for x in texts], type=pa.int64())})
    shares = {k: kind.count(k) / n for k in ("exact", "near_base", "near")}
    return table, shares


def embeddings(rng, n):
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (n, 64))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


def generate(out_dir, seed, shape):
    """Write every table for `shape` under `out_dir`; returns the
    properties the workload depends on, checked by `check`."""
    spec = SHAPES[shape]
    rng = np.random.default_rng([seed, TABLES.index("lineitem")])
    tables = star(rng, spec["lineitem"])
    rng = np.random.default_rng([seed, TABLES.index("events")])
    tables["events"] = events(rng, spec["events"], spec["users"], spec["late"])
    rng = np.random.default_rng([seed, TABLES.index("documents")])
    tables["documents"], shares = documents(
        rng, spec["documents"], spec["dup_exact"], spec["dup_near"])
    rng = np.random.default_rng([seed, TABLES.index("embeddings")])
    tables["embeddings"] = embeddings(rng, spec["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
    ts = tables["events"]["ts"].cast(pa.int64()).to_numpy()
    late = float(np.mean(ts[1:] < np.maximum.accumulate(ts)[:-1]))
    props = {
        "seed": seed, "shape": shape,
        "rows": {n: t.num_rows for n, t in tables.items()},
        "doc_shares": shares,
        "users": int(len(np.unique(tables["events"]["user_id"]))),
        "late_share": late,
    }
    check(out_dir, spec, props)
    return props


def check(out_dir, spec, props):
    """Self-check of the preconditions the queries and twins rely on;
    raises before anything is timed."""
    def read(name):
        return pq.read_table(os.path.join(out_dir, f"{name}.parquet"))

    def col(t, c):
        return t[c].to_numpy()

    docs, ev, emb = read("documents"), read("events"), read("embeddings")
    li, orders, cust = read("lineitem"), read("orders"), read("customer")
    part, supp = read("part"), read("supplier")
    assert np.array_equal(col(docs, "doc_id"), np.arange(docs.num_rows)), \
        "doc_id must be dense 0..n-1"
    assert len(np.unique(col(ev, "event_id"))) == ev.num_rows, \
        "event_id must be unique"
    assert all(len(v) == 64 for v in emb["embedding"].to_pylist()), \
        "embedding dim must be 64"
    for child, key, parent, pkey in [
            (li, "l_orderkey", orders, "o_orderkey"),
            (li, "l_partkey", part, "p_partkey"),
            (li, "l_suppkey", supp, "s_suppkey"),
            (orders, "o_custkey", cust, "c_custkey")]:
        assert np.isin(col(child, key), col(parent, pkey)).all(), \
            f"{key} must reference {pkey}"
    assert np.isin(col(cust, "c_nationkey"), np.arange(25)).all()
    shares = props["doc_shares"]
    assert abs(shares["exact"] - spec["dup_exact"]) < 0.01, shares
    assert abs(shares["near"] * 2 - spec["dup_near"]) < 0.01, shares
    assert props["users"] == spec["users"], props["users"]
    if spec["late"] > 0:
        assert 0 < props["late_share"] < 2 * spec["late"], props["late_share"]


if __name__ == "__main__":
    out, seed = sys.argv[1], int(sys.argv[2])
    print(json.dumps(generate(out, seed, sys.argv[3])))
