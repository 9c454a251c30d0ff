"""Seeded input generators for the three benchmark workloads.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet files. The schemas are the testdata schemas
(FIXTURES.md), so the program's query ids and their DuckDB oracle SQL run
on these files unchanged.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes --

SC_CELLS = 1200          # cells before filter_cells
SC_GENES = 28000         # full reference gene width
SC_TYPES = 10            # planted cell types
SC_MARKERS = 30          # planted marker genes per type
SC_BG_MEAN = 85          # background gene draws per cell (Poisson mean)
SC_MIN_GENES = 90        # filter_cells threshold (drops the sparsest ~15%)
SC_HVG = 200             # top highly-variable genes kept for pca/markers
SC_PCS = 10              # principal components
SC_TOP_MARKERS = 5       # markers ranked per cell type

LLM_DOCS = 4000          # documents
LLM_VECS = 2000          # embeddings
LLM_CLUSTERS = 50        # embedding clusters
LLM_VEC_COPIES = 0.02    # share of embeddings planted as near-copies of another
LLM_VOCAB = 3000         # Zipf vocabulary size
LLM_ZIPF = 0.9           # Zipf exponent of token frequencies
LLM_EXACT_DUP = 0.02     # share of documents that copy an earlier one
LLM_NEAR_DUP = 0.03      # share that copy an earlier one with one token changed

SQL_SF = 0.01            # TPC-H-shaped tables at roughly sf0.01

EMB_DIM = 64


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts_us(days_since_epoch: np.ndarray) -> pa.Array:
    us = days_since_epoch.astype(np.int64) * 86_400_000_000
    return pa.array(us, type=pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


# ------------------------------------------------------------- sc_atlas --

def gen_sc(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 1])
    n, g = SC_CELLS, SC_GENES
    ids = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    label = rng.integers(0, SC_TYPES, n).astype(np.int32)
    markers = rng.choice(g, size=(SC_TYPES, SC_MARKERS), replace=False)
    # background popularity: a shuffled power law over all genes
    w = 1.0 / (np.arange(g) + 10.0) ** 0.9
    w = w[rng.permutation(g)]
    w /= w.sum()
    nbg = rng.poisson(SC_BG_MEAN, n)
    cell_bg = np.repeat(np.arange(n), nbg)
    gene_bg = rng.choice(g, size=cell_bg.size, p=w)
    val_bg = 1 + rng.geometric(0.6, cell_bg.size) - 1
    # planted markers: each of a type's markers is expressed with p=0.6
    mk = rng.random((n, SC_MARKERS)) < 0.6
    cell_mk = np.nonzero(mk)[0]
    gene_mk = markers[label[cell_mk], np.nonzero(mk)[1]]
    val_mk = 10 + rng.poisson(20.0, cell_mk.size)
    cell = np.concatenate([cell_bg, cell_mk])
    gene = np.concatenate([gene_bg, gene_mk])
    val = np.concatenate([val_bg, val_mk]).astype(np.float64)
    key = cell.astype(np.int64) * g + gene
    uk, inv = np.unique(key, return_inverse=True)
    sums = np.bincount(inv, weights=val)
    coo = pa.table({
        "id": pa.array(ids[uk // g]),
        "pos": pa.array((uk % g).astype(np.int32)),
        "val": pa.array(sums),
    })
    _write(coo, os.path.join(out, "counts.parquet"))
    _write(pa.table({"id": pa.array(ids), "label": pa.array(label)}),
           os.path.join(out, "cells.parquet"))
    meta = {"cells": n, "genes": g, "min_genes": SC_MIN_GENES, "hvg": SC_HVG,
            "pcs": SC_PCS, "top_markers": SC_TOP_MARKERS,
            "markers": {str(t): sorted(int(x) for x in markers[t])
                        for t in range(SC_TYPES)}}
    return meta


# ------------------------------------------------------------ llm_dedup --

def _vocab(rng, size):
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words, seen = [], set()
    while len(words) < size:
        k = int(rng.integers(2, 4))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def gen_documents(rng, n):
    vocab = _vocab(rng, LLM_VOCAB)
    zipf = 1.0 / np.arange(1, LLM_VOCAB + 1) ** LLM_ZIPF
    zipf /= zipf.sum()
    lens = 20 + rng.poisson(30, n)
    toks = rng.choice(LLM_VOCAB, size=int(lens.sum()), p=zipf)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    docs = [toks[s:s + l].tolist() for s, l in zip(starts, lens)]
    kind = rng.random(n)
    planted = []
    for i in range(1, n):
        if kind[i] < LLM_EXACT_DUP + LLM_NEAR_DUP:
            j = int(max(0, i - 1 - rng.integers(0, 50)))
            docs[i] = list(docs[j])
            if kind[i] >= LLM_EXACT_DUP:
                p = int(rng.integers(len(docs[i])))
                docs[i][p] = int(rng.integers(LLM_VOCAB))
            planted.append([j, i])
    text = [" ".join(vocab[t] for t in d) for d in docs]
    langs = np.array(["en", "fr", "es", "zh", "de"], dtype=object)
    lang = langs[np.searchsorted([0.39, 0.54, 0.69, 0.84, 1.0], rng.random(n), side="right").clip(0, 4)]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text),
        "lang": pa.array(lang),
        "source": pa.array(["src%d" % (i % 20) for i in range(n)]),
        "n_chars": pa.array(rng.integers(100, 2000, n).astype(np.int64)),
    })
    return table, planted


def gen_embeddings(rng, n):
    cluster = rng.integers(0, LLM_CLUSTERS, n)
    centers = rng.normal(size=(LLM_CLUSTERS, EMB_DIM))
    centers *= np.sqrt(24.0) / np.linalg.norm(centers, axis=1, keepdims=True)
    raw = centers[cluster] + rng.normal(size=(n, EMB_DIM))
    copies = []
    for i in np.nonzero(rng.random(n) < LLM_VEC_COPIES)[0]:
        if i > 0:
            j = int(rng.integers(0, i))
            raw[i] = raw[j] + rng.normal(scale=0.01, size=EMB_DIM)
            copies.append([j, int(i)])
    vec = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)),
        pa.array(vec.reshape(-1)))
    table = pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                      "embedding": emb, "label": pa.array((cluster % 10).astype(np.int32))})
    return table, copies


def gen_llm(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 2])
    docs, planted = gen_documents(rng, LLM_DOCS)
    _write(docs, os.path.join(out, "documents.parquet"))
    emb, copies = gen_embeddings(rng, LLM_VECS)
    _write(emb, os.path.join(out, "embeddings.parquet"))
    return {"documents": LLM_DOCS, "vocab": LLM_VOCAB, "vectors": LLM_VECS,
            "planted_dups": planted, "planted_vec_copies": copies}


# ------------------------------------------------------------- sql_tail --

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
DAY_1995 = 9131  # 1995-01-01 as days since 1970-01-01


def gen_sql(seed: int, out: str) -> dict:
    rng = np.random.default_rng([seed, 3])
    sf = SQL_SF
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_ev, n_users = int(1500000 * sf), int(1000000 * sf), int(15000 * sf)
    tables = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                                 "r_name": pa.array(REGIONS)})
    tables["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                                 "n_name": pa.array(["NATION_%d" % k for k in range(25)]),
                                 "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array(["Customer#%09d" % k for k in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_cust), 2)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array(["Supplier#%09d" % k for k in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-1000, 10000, n_supp), 2))})
    adj = np.asarray(ADJS, dtype=object)[rng.integers(0, 8, n_part)]
    noun = np.asarray(NOUNS, dtype=object)[rng.integers(0, 8, n_part)]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([a + " " + b for a, b in zip(adj, noun)]),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _ts_us(DAY_1995 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": _pick(rng, PRIOS, n_ord)})
    nlines = np.minimum(rng.poisson(4.0, n_ord), 17)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), nlines)
    m = okey.size
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, m).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, m).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, m).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, m), 2)),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _ts_us(DAY_1995 + 1 + rng.integers(0, 2498, m))})
    start_us = 19723 * 86_400_000_000  # 2024-01-01
    gap = 30 * 86_400_000_000 // n_ev
    ts = start_us + np.arange(n_ev, dtype=np.int64) * gap + rng.integers(0, gap, n_ev)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(rng, ETYPES, n_ev),
        "value": pa.array(np.round(-50.0 * np.log(1.0 - rng.random(n_ev)), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)])})
    for name, t in tables.items():
        _write(t, os.path.join(out, name + ".parquet"))
    return {"sf": sf, "rows": {k: t.num_rows for k, t in tables.items()}}


GENERATORS = {"sc_atlas": gen_sc, "llm_dedup": gen_llm, "sql_tail": gen_sql}


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    meta = GENERATORS[workload](seed, out)
    meta["seed"] = seed
    with open(os.path.join(out, "meta.json"), "w") as fh:
        json.dump(meta, fh, sort_keys=True)
    return meta


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
