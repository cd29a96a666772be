"""Synthetic star-schema tables for the query mixes.

Writes the ten parquet tables the query modules read (``region`` ...
``embeddings``), with the column names and types of the graft query suite's test
data and its scale-factor sizing (lineitem = 6M x sf rows). Values are drawn from a
fixed-seed generator, so every run of a mix reads the same bytes.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small big customer query order group "
         "stream filter vector").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def _ts(values_s):
    return pa.array((values_s * 1_000_000).astype("int64"), pa.int64()).cast(pa.timestamp("us"))


N_DOCS = 500  # documents and embeddings do not scale with sf in the testdata
N_VECS = 500
DIM = 64


def generate(out, sf, seed):
    n_docs, n_vecs, dim = N_DOCS, N_VECS, DIM
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": ["NATION_%d" % i for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    adj = np.array("small red hot old large blue cold new".split())
    noun = np.array("ring widget bolt gear plate rod gizmo anvil".split())
    types = np.array(["SMALL", "MEDIUM", "ECONOMY", "STANDARD", "LARGE", "PROMO"])
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    day0 = 788_918_400  # 1995-01-01
    odate = day0 + rng.integers(0, 2404, n_ord) * 86_400
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": lok.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(odate[lok] + rng.integers(1, 122, n_line) * 86_400)})
    ev_ts = 1_704_067_200 + np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), rng.integers(10, 90))])
             for _ in range(n_docs)]
    # a tenth of the documents repeat an earlier one with one word changed,
    # so the dedup queries find near-duplicate pairs
    for i in range(n_docs // 10, n_docs, 10):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = str(WORDS[int(rng.integers(0, len(WORDS)))])
        texts[i] = " ".join(words)
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    v = centers[labels] + rng.normal(0, 1.5, (n_vecs, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": labels.astype("int32")})


def row_count(out):
    """Input rows of the table set: the sum over its ten tables."""
    return sum(pq.ParquetFile(os.path.join(out, n)).metadata.num_rows
               for n in os.listdir(out) if n.endswith(".parquet"))
