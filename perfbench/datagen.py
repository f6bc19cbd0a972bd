"""Seeded input generator for the benchmark.

Writes the ten tables the registry reads (same names, columns and parquet
types as the project's fixtures, see FIXTURES.md) into one directory,
scaled by ``sf`` like the fixtures (lineitem = 6M * sf rows), plus the
workload's own inputs:

- corpus_llm: planted near-duplicate documents, each a copy of an
  original document under a fresh doc_id with ``edits`` token edits, at
  ``dup_share`` of the corpus;
- iterative_state: Zipf-skewed (user, item, rating) triples for
  MfTrainer (ratings.parquet) and linearly separable labelled vectors for
  PaTrainer (labelled.parquet).

The same (seed, workload, sizes) always gives byte-identical files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
US_PER_DAY = 86_400_000_000

# Per-workload generator settings. Sizes are fixed per workload so that
# only the content, never the volume, changes with the seed.
WORKLOADS = {
    "corpus_llm": {"sf": 0.01, "docs": 1200, "dup_share": 0.10, "edits": 2},
    "iterative_state": {"sf": 0.01, "ratings": 10000, "users": 1000,
                        "items": 1000, "zipf": 0.8, "pa_rows": 2000,
                        "pa_dim": 16},
    "sql_short": {"sf": 0.01},
}


def _rng(seed, name):
    h = int.from_bytes(hashlib.sha256(name.encode()).digest()[:8], "little")
    return np.random.default_rng([seed, h])


def _days(rng, n, start, end):
    """Whole days in [start, end] as timestamp[us]."""
    s = np.datetime64(start, "D").astype(np.int64)
    e = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(s, e + 1, n)
    return pa.array(d * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def star_tables(out, seed, sf):
    n_c, n_s, n_p = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_o, n_l = int(1500000 * sf), int(6000000 * sf)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": REGIONS}), f"{out}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out}/nation.parquet")
    r = _rng(seed, "customer")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(r, n_c, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_c)]}),
        f"{out}/customer.parquet")
    r = _rng(seed, "supplier")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(r, n_s, -999.99, 9999.99)}), f"{out}/supplier.parquet")
    r = _rng(seed, "part")
    keys = np.arange(n_p)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(r.integers(0, 8, n_p), r.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_p)],
        "p_type": [TYPES[t] for t in r.integers(0, 6, n_p)],
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": (9000 + keys % 1000) / 10.0}), f"{out}/part.parquet")
    r = _rng(seed, "orders")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_o)],
        "o_totalprice": _money(r, n_o, 1000, 500000),
        "o_orderdate": _days(r, n_o, "1995-01-01", "2001-08-01"),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_o)]}),
        f"{out}/orders.parquet")
    r = _rng(seed, "lineitem")
    _write(pa.table({
        "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
        "l_quantity": r.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(r, n_l, 900, 105000),
        "l_discount": r.integers(0, 11, n_l) / 100.0,
        "l_tax": r.integers(0, 9, n_l) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in r.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_l)],
        "l_shipdate": _days(r, n_l, "1995-01-02", "2001-11-04")}),
        f"{out}/lineitem.parquet")


def events_table(out, seed, sf):
    n, users = int(1000000 * sf), max(15, int(15000 * sf))
    r = _rng(seed, "events")
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(r.integers(t0, t0 + 30 * US_PER_DAY, n))
    _write(pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, users, n), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)]}),
        f"{out}/events.parquet")


def documents_table(out, seed, n_docs, dup_share=0.05, edits=0):
    """Original documents, then planted near-duplicates: a copy of a
    random original under a fresh doc_id, with ``edits`` tokens replaced
    (``edits`` = 0 keeps the fixture's exact ``... dup`` copies)."""
    r = _rng(seed, "documents")
    n_dup = int(round(n_docs * dup_share))
    n_orig = n_docs - n_dup
    texts = [" ".join(VOCAB[j] for j in r.integers(0, len(VOCAB), r.integers(10, 101)))
             for _ in range(n_orig)]
    for _ in range(n_dup):
        toks = texts[int(r.integers(0, n_orig))].split(" ")
        for pos in r.integers(0, len(toks), edits):
            toks[pos] = VOCAB[int(r.integers(0, len(VOCAB)))]
        texts.append(" ".join(toks + ["dup"]))
    ids = np.arange(n_docs)
    _write(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    return {"rows": n_docs, "planted_dups": n_dup, "dup_share": n_dup / n_docs,
            "token_edits": edits}


def embeddings_table(out, seed, n):
    r = _rng(seed, "embeddings")
    x = r.standard_normal((n, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32())}),
        f"{out}/embeddings.parquet")


def ratings_table(out, seed, n, users, items, zipf):
    """Zipf-skewed (user, item, rating): user and item ranks drawn with
    P(rank k) ~ 1/k^zipf, ratings from a rank-2 latent model."""
    r = _rng(seed, "ratings")

    def zipf_ids(m):
        p = 1.0 / np.arange(1, m + 1) ** zipf
        return r.choice(m, n, p=p / p.sum())
    u, i = zipf_ids(users), zipf_ids(items)
    pu, qi = r.standard_normal((users, 2)), r.standard_normal((items, 2))
    rating = np.clip(np.round(3 + (pu[u] * qi[i]).sum(1)), 1, 5)
    _write(pa.table({"user": pa.array(u, pa.int64()), "item": pa.array(i, pa.int64()),
                     "rating": rating}), f"{out}/ratings.parquet")
    top = np.sort(np.bincount(u, minlength=users))[::-1]
    return {"rows": n, "users": int(len(np.unique(u))), "items": int(len(np.unique(i))),
            "top1pct_user_share": float(top[:max(1, users // 100)].sum() / n)}


def labelled_table(out, seed, n, dim):
    """Linearly separable (x, y): y = sign(w*.x), points inside a margin
    of 0.05 are dropped and redrawn."""
    r = _rng(seed, "labelled")
    w = r.standard_normal(dim)
    w /= np.linalg.norm(w)
    xs = np.empty((0, dim))
    while len(xs) < n:
        x = r.standard_normal((2 * n, dim))
        xs = np.vstack([xs, x[np.abs(x @ w) >= 0.05]])
    xs = xs[:n]
    y = np.where(xs @ w > 0, 1.0, -1.0)
    _write(pa.table({"x": pa.array(list(xs), pa.list_(pa.float64())), "y": y}),
           f"{out}/labelled.parquet")
    return {"rows": n, "dim": dim, "positive_share": float((y > 0).mean())}


def generate(out, workload, seed):
    """Write every input of ``workload`` under ``out``; returns the input
    properties (rows, duplicate share, key skew, bytes)."""
    cfg = WORKLOADS[workload]
    sf = cfg["sf"]
    os.makedirs(out, exist_ok=True)
    props = {"sf": sf}
    star_tables(out, seed, sf)
    events_table(out, seed, sf)
    if workload == "corpus_llm":
        props["documents"] = documents_table(out, seed, cfg["docs"],
                                             cfg["dup_share"], cfg["edits"])
    else:
        props["documents"] = documents_table(out, seed, max(500, int(50000 * sf)))
    embeddings_table(out, seed, max(500, int(20000 * sf)))
    if workload == "iterative_state":
        props["ratings"] = ratings_table(out, seed, cfg["ratings"], cfg["users"],
                                         cfg["items"], cfg["zipf"])
        props["labelled"] = labelled_table(out, seed, cfg["pa_rows"], cfg["pa_dim"])
    props["bytes"] = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out))
    return props
