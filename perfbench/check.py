"""Output checks made apart from the program.

- Ids with oracle SQL: DuckDB runs the oracle over the same input files and
  the result must match column-sorted and row-sorted, dtype by dtype and
  value by value as strings (the rules of the repo's oracle comparator).
- sc_atlas: the preprocessing is recomputed with numpy from the raw counts;
  the Zarr store is decoded with zlib + numpy; the per-gene summary and the
  HVG set are recomputed by DuckDB from the raw counts; PCA variances are
  checked against numpy eigenvalues of the same HVG matrix; marker ranking
  is recomputed with numpy and must find the planted markers.
- llm_dedup: planted duplicate documents must be found, LSH pairs must be
  true pairs, and LSH/IVF must find the planted near-copy vectors; IVF
  recall@5 is measured against exact top-5.

`check()` returns a list of problems; an empty list means correct. Ops
that failed are not checked (they are counted as failed instead).
"""
import json
import os
import zlib

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]
# the all-pairs Jaccard oracle of q_dedup_prefix is quadratic in DuckDB;
# the same complete all-pairs computation is done as a numpy matrix product
NUMPY_CHECKED = {"q_dedup_prefix"}
IVF_MIN_RECALL = 0.5  # the floor the program's own IVF recall specs use
COPY_MIN_RECALL = 0.9
MARKER_MIN_PLANTED = 0.8


def connect(data):
    con = duckdb.connect()
    con.execute("SET threads TO %d" % max(1, min(4, os.cpu_count() or 1)))
    for t in TABLES:
        p = os.path.join(data, t + ".parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def compare_frames(spark_df, duck_df):
    """The oracle comparator: sort columns by name and rows by every
    column, then compare shape, dtypes and values as strings."""
    s = spark_df[sorted(spark_df.columns)].reset_index(drop=True)
    d = duck_df[sorted(duck_df.columns)].reset_index(drop=True)
    for df in (s, d):
        nested = [c for c in df.columns
                  if len(df) and isinstance(df[c].iloc[0], (np.ndarray, list, dict))]
        if nested:
            return f"nested column(s) {nested}"
    if list(s.columns) != list(d.columns):
        return f"columns spark={list(s.columns)} duck={list(d.columns)}"
    if len(s) != len(d):
        return f"rows spark={len(s)} duck={len(d)}"
    if len(s):
        s = s.sort_values(list(s.columns), kind="mergesort").reset_index(drop=True)
        d = d.sort_values(list(d.columns), kind="mergesort").reset_index(drop=True)
    for c in s.columns:
        if str(s[c].dtype) != str(d[c].dtype):
            return f"dtype[{c}] spark={s[c].dtype} duck={d[c].dtype}"
        a, b = s[c].astype(str).values, d[c].astype(str).values
        if (a != b).any():
            i = int(np.argmax(a != b))
            return f"value[{c}] row {i}: spark={a[i]!r} duck={b[i]!r} ({int((a != b).sum())} diffs)"
    return None


def check_oracle(data, check_dir, skip):
    """Every op with oracle SQL, except those checked in numpy below."""
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = connect(data)
    problems = []
    for name, sql in sorted(oracle.items()):
        if name in skip or name in NUMPY_CHECKED:
            continue
        path = os.path.join(check_dir, name)
        if not os.path.isdir(path):
            problems.append(f"{name}: no output")
            continue
        err = compare_frames(pd.read_parquet(path), con.execute(sql).df())
        if err:
            problems.append(f"{name}: {err}")
    return problems


# ------------------------------------------------------------- sc_atlas --

def read_zarr_1d(store, member, zmeta):
    m = zmeta[f"{member}/.zarray"]
    n, chunk = m["shape"][0], m["chunks"][0]
    parts = []
    for k in range((n + chunk - 1) // chunk):
        with open(os.path.join(store, member, str(k)), "rb") as fh:
            raw = fh.read()
        if (m.get("compressor") or {}).get("id") == "zlib":
            raw = zlib.decompress(raw)
        parts.append(np.frombuffer(raw, dtype=np.dtype(m["dtype"])))
    return np.concatenate(parts)[:n] if parts else np.zeros(0, dtype=np.dtype(m["dtype"]))


def expected_sc(data, meta):
    """filter_cells -> normalize_per_cell(1e4) -> log1p over the raw
    counts, with kept cells renumbered 0..n-1 in id order."""
    coo = pq.read_table(os.path.join(data, "counts.parquet")).to_pandas()
    cells = pq.read_table(os.path.join(data, "cells.parquet")).to_pandas()
    nnz = coo.groupby("id").size()
    kept = np.sort(nnz.index[nnz.values >= meta["min_genes"]].values)
    coo = coo[coo.id.isin(kept)]
    rowsum = coo.groupby("id").val.sum()
    x = np.log1p(coo.val.values * (1e4 / rowsum.loc[coo.id].values))
    new_id = np.searchsorted(kept, coo.id.values)
    order = np.lexsort((coo.pos.values, new_id))
    label = cells.set_index("id").label.loc[kept].values
    return new_id[order], coo.pos.values[order].astype(np.int64), x[order], label


def check_sc(data, check_dir, work, meta, res, skip):
    problems = []
    rows, genes, exact, label = expected_sc(data, meta)
    n = len(label)
    store = os.path.join(work, "atlas.zarr")
    with open(os.path.join(store, ".zmetadata")) as fh:
        zmeta = json.load(fh)["metadata"]
    # the Zarr store, decoded without the program
    if "ingest" not in skip:
        attrs = zmeta.get("X/.zattrs", {})
        if attrs.get("encoding-type") != "csr_matrix" or attrs.get("shape") != [n, meta["genes"]]:
            problems.append(f"store: X attrs {attrs}, expected csr_matrix shape {[n, meta['genes']]}")
        indptr = read_zarr_1d(store, "X/indptr", zmeta)
        indices = read_zarr_1d(store, "X/indices", zmeta)
        vals = read_zarr_1d(store, "X/data", zmeta)
        want_ptr = np.concatenate([[0], np.cumsum(np.bincount(rows, minlength=n))])
        if not np.array_equal(indptr, want_ptr):
            problems.append("store: indptr differs from the COO matrix")
        elif not np.array_equal(indices, genes):
            problems.append("store: indices differ from the COO matrix")
        elif np.abs(vals - exact).max(initial=0) > 0.5e-4 + 1e-9:
            problems.append("store: data is not the 4-dp rounding of the normalized values")
        if not np.array_equal(read_zarr_1d(store, "obs/label", zmeta), label):
            problems.append("store: obs/label differs from the kept cells' labels")
        if res.get("kept_cells") != n:
            problems.append(f"ingest kept {res.get('kept_cells')} cells, expected {n}")
    # per-gene summary and HVG dispersions, recomputed by DuckDB
    con = duckdb.connect()
    counts = os.path.join(data, "counts.parquet")
    con.execute(f"""CREATE VIEW px AS
        WITH coo AS (SELECT * FROM read_parquet('{counts}')),
        cs AS (SELECT id, count(*) AS n_genes, sum(val) AS row_sum FROM coo GROUP BY id),
        kept AS (SELECT id, 10000.0 / row_sum AS sc FROM cs WHERE n_genes >= {meta['min_genes']})
        SELECT c.pos AS gene, round(ln(1.0 + c.val * k.sc), 4) AS v
        FROM coo c JOIN kept k USING (id)""")
    want = con.execute("""SELECT gene, count(*) AS n_cells, sum(v) AS total,
        sum(v * v) AS s2 FROM px GROUP BY gene ORDER BY gene""").df()
    if "reopen" not in skip:
        got = pd.read_parquet(os.path.join(check_dir, "reopen")).sort_values("gene")
        if len(got) != len(want) or not np.array_equal(got.gene.values, want.gene.values):
            problems.append(f"reopen: {len(got)} genes, expected {len(want)}")
        elif not np.array_equal(got.n_cells.values, want.n_cells.values):
            problems.append("reopen: per-gene cell counts differ")
        elif np.abs(got.total.values - want.total.values).max() > 1e-4 * want.n_cells.max():
            problems.append("reopen: per-gene totals differ")
    hv = pd.read_csv(os.path.join(check_dir, "hvg.csv")) if "hvg" not in skip else None
    if hv is not None:
        mu = want.total.values / n
        disp = np.where(mu > 0, np.maximum(want.s2.values / n - mu * mu, 0.0) / np.where(mu > 0, mu, 1), -np.inf)
        by_gene = dict(zip(want.gene.values, disp))
        k = meta["hvg"]
        kth = np.sort(disp)[::-1][k - 1]
        got_disp = np.array([by_gene.get(g, -np.inf) for g in hv.pos.values])
        if len(hv) != k or len(set(hv.pos)) != k:
            problems.append(f"hvg: {len(hv)} genes, expected {k} distinct")
        elif (got_disp < kth * (1 - 1e-9)).any():
            problems.append("hvg: a selected gene is not among the top dispersions")
        elif np.abs(hv.disp.values - got_disp).max() > 1e-9 * max(1.0, np.abs(got_disp).max()):
            problems.append("hvg: dispersions differ")
    if hv is None or ("pca" in skip and "markers" in skip):
        return problems
    # the dense HVG matrix, in the program's HVG order
    col = {g: j for j, g in enumerate(hv.pos.values)}
    sel = np.isin(genes, hv.pos.values)
    dense = np.zeros((n, len(col)))
    dense[rows[sel], [col[g] for g in genes[sel]]] = np.round(exact[sel], 4)
    if "pca" not in skip:
        pca = pd.read_parquet(os.path.join(check_dir, "pca")).sort_values("id")
        scores = np.stack(pca.pc.values)
        ev = np.sort(np.linalg.eigvalsh(np.cov(dense, rowvar=False)))[::-1][:meta["pcs"]]
        var = np.var(scores, axis=0, ddof=1)
        if len(pca) != n or not np.array_equal(pca.id.values, np.arange(n)):
            problems.append(f"pca: {len(pca)} rows, expected ids 0..{n - 1}")
        elif not np.allclose(var, ev, rtol=1e-5, atol=1e-9):
            problems.append(f"pca: component variances {var[:3]} != eigenvalues {ev[:3]}")
    if "markers" not in skip:
        problems += check_markers(pd.read_parquet(os.path.join(check_dir, "markers")),
                                  dense, label, hv.pos.values, meta)
    return problems


def welch_t(dense, label, g):
    a, b = dense[label == g], dense[label != g]
    va, vb = a.var(axis=0, ddof=1), b.var(axis=0, ddof=1)
    den = va / len(a) + vb / len(b)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den > 0, (a.mean(axis=0) - b.mean(axis=0)) / np.sqrt(den), 0.0)


def check_markers(got, dense, label, hvg, meta):
    problems, planted, total = [], 0, 0
    top = meta["top_markers"]
    for g in sorted(set(label.tolist())):
        t = welch_t(dense, label, g)
        rows = got[got.label == g].sort_values("rnk")
        kth = np.sort(t)[::-1][top - 1]
        idx = rows.pos1.values - 1
        if len(rows) != top:
            problems.append(f"markers: label {g} has {len(rows)} markers, expected {top}")
            continue
        if (t[idx] < kth - 1e-3).any() or np.abs(rows.t.values - t[idx]).max() > 1e-3:
            problems.append(f"markers: label {g} ranking differs from the exact Welch t top-{top}")
        planted += sum(int(hvg[i]) in set(meta["markers"][str(g)]) for i in idx)
        total += len(idx)
    if total and planted / total < MARKER_MIN_PLANTED:
        problems.append(f"markers: only {planted}/{total} ranked markers are planted ones")
    return problems


# ------------------------------------------------------------ llm_dedup --

def jaccard(a, b):
    a, b = set(a.split(" ")), set(b.split(" "))
    return len(a & b) / len(a | b)


def all_pairs_jaccard(docs, tau):
    """Exact Jaccard of every document pair over distinct-token sets:
    {(id1, id2): 4-dp jaccard} for pairs at or above tau."""
    sets = [set(t.split(" ")) for t in docs.text]
    vocab = {w: k for k, w in enumerate(sorted(set().union(*sets)))}
    x = np.zeros((len(sets), len(vocab)), dtype=np.float32)
    for i, s in enumerate(sets):
        x[i, [vocab[w] for w in s]] = 1.0
    inter = (x @ x.T).astype(np.float64)
    n = x.sum(axis=1, dtype=np.float64)
    jac = np.round(inter / (n[:, None] + n[None, :] - inter) + 1e-9, 4)
    i, j = np.nonzero(np.triu(jac >= tau, k=1))
    ids = docs.doc_id.values
    return {(int(ids[a]), int(ids[b])): float(jac[a, b]) for a, b in zip(i, j)}


def check_llm(data, check_dir, meta, skip):
    problems = []
    docs = pq.read_table(os.path.join(data, "documents.parquet")).to_pandas()
    text = dict(zip(docs.doc_id, docs.text))
    if "q_dedup_prefix" not in skip:
        got = pd.read_parquet(os.path.join(check_dir, "q_dedup_prefix"))
        want = all_pairs_jaccard(docs, 0.95)
        have = {(int(a), int(b)): float(j) for a, b, j in zip(got.id1, got.id2, got.jaccard)}
        if len(got) != len(have) or set(have) != set(want):
            problems.append(f"q_dedup_prefix: {len(got)} pairs, expected {len(want)}")
        elif any(abs(have[k] - want[k]) > 1e-9 for k in want):
            problems.append("q_dedup_prefix: jaccard values differ")
    if "q_dedup_minhash" not in skip:
        got = pd.read_parquet(os.path.join(check_dir, "q_dedup_minhash"))
        found = set(zip(got.id1, got.id2))
        want = [(a, b) for a, b in meta["planted_dups"]
                if b < 100 and a != b and jaccard(text[a], text[b]) >= 0.95]
        missed = [p for p in want if tuple(p) not in found]
        if missed:
            problems.append(f"q_dedup_minhash: planted duplicates not found: {missed[:5]}")
    emb = pq.read_table(os.path.join(data, "embeddings.parquet")).to_pandas()
    v = np.stack(emb.embedding.values).astype(np.float64)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    sims = v @ v.T
    copies = [tuple(sorted(p)) for p in meta["planted_vec_copies"]]
    if "q_similarity_lsh" not in skip:
        got = pd.read_parquet(os.path.join(check_dir, "q_similarity_lsh"))
        true = sims[got.id1.values, got.id2.values]
        if (true < 0.35 - 1e-4).any() or np.abs(true - got.cosine.values).max(initial=0) > 1e-3:
            problems.append("q_similarity_lsh: a reported pair is not a true pair at cosine >= 0.35")
        found = set(zip(got.id1, got.id2))
        if copies and sum(p in found for p in copies) / len(copies) < COPY_MIN_RECALL:
            problems.append("q_similarity_lsh: planted near-copy vectors not found")
    if "q_similarity_ivf" not in skip:
        got = pd.read_parquet(os.path.join(check_dir, "q_similarity_ivf"))
        np.fill_diagonal(sims, -np.inf)
        exact = np.argsort(-sims, axis=1, kind="stable")[:, :5]
        want = {(i, int(j)) for i in range(len(v)) for j in exact[i]}
        found = set(zip(got.id1, got.id2))
        recall = len(want & found) / len(want)
        if len(got) != 5 * len(v) or recall < IVF_MIN_RECALL:
            problems.append(f"q_similarity_ivf: {len(got)} rows, recall@5 {recall:.3f}")
        hit = sum((a, b) in found or (b, a) in found for a, b in copies)
        if copies and hit / len(copies) < COPY_MIN_RECALL:
            problems.append("q_similarity_ivf: planted near-copy vectors not found")
    return problems


def check(workload, data, check_dir, work, res, meta):
    passes = [res["check_pass"]] + res["passes"]
    skip = {o["op"] for p in passes for o in p["ops"] if not o["ok"]}
    if workload == "sc_atlas":
        return check_sc(data, check_dir, work, meta, res, skip)
    problems = check_oracle(data, check_dir, skip)
    if workload == "llm_dedup":
        problems += check_llm(data, check_dir, meta, skip)
    return problems
