"""Self-tests of the benchmark's own code: metric computation, input
determinism, and that corrupted outputs fail the independent checks.
They need numpy, pyarrow and duckdb, not Spark.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import sys
import tempfile
import unittest
import zlib
from unittest import mock

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def op(name, s, ok=True):
    return {"op": name, "s": s, "ok": ok}


def a_pass(wall, ops, alloc=1e6, written=2e6):
    return {"wall_s": wall, "ops": ops, "alloc_bytes": alloc, "written_bytes": written,
            "gc_s": 0.0}


class StatsTest(unittest.TestCase):
    res = {"setup_s": [3.0, 1.0, 2.0], "passes": [
        a_pass(4.0, [op("a", 1.0), op("b", 3.0)], alloc=3e6),
        a_pass(2.0, [op("a", 0.5), op("b", 1.5)], alloc=1e6),
        a_pass(3.0, [op("a", 2.0), op("b", 9.0, ok=False)], alloc=2e6)]}

    def test_medians_and_slowest_op(self):
        m = {k: v["value"] for k, v in stats.end_to_end(self.res).items()}
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["pass_s"], 3.0)
        # median over the five successful op samples; the failed op is out
        self.assertEqual(m["op_p50_s"], 1.5)
        # slowest op per pass: 3.0, 1.5, 2.0 (the failed 9.0 is not a latency)
        self.assertEqual(m["op_slowest_s"], 2.0)
        self.assertEqual(m["alloc_mb"], 2.0)
        self.assertEqual(m["disk_write_mb"], 2.0)

    def test_even_sample_count_takes_the_middle_mean(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_attempted_and_failed(self):
        self.assertEqual(stats.attempts(self.res), (6, 1))

    def test_every_metric_is_reported(self):
        self.assertEqual([n for n, _ in stats.END_TO_END], list(stats.end_to_end(self.res)))
        traced = dict(self.res, workload="sql_tail", passes=[
            dict(p, traced=i % 2 == 1, ops=[dict(o, cached_rdds_left=0) for o in p["ops"]])
            for i, p in enumerate(self.res["passes"])])
        self.assertEqual([n for n, _ in stats.PER_LAYER], list(stats.per_layer(traced)))


class InputsTest(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as d:
            gen.generate("sql_tail", 7, os.path.join(d, "a"))
            gen.generate("sql_tail", 7, os.path.join(d, "b"))
            gen.generate("sql_tail", 8, os.path.join(d, "c"))
            def read(x, name):
                with open(os.path.join(d, x, name), "rb") as fh:
                    return fh.read()
            for name in os.listdir(os.path.join(d, "a")):
                a, b, c = (read(x, name) for x in "abc")
                self.assertEqual(a, b, name)
                if name == "lineitem.parquet":
                    self.assertNotEqual(a, c)


def write_member(store, member, arr, chunk=64):
    os.makedirs(os.path.join(store, member))
    for k in range(0, max(1, (len(arr) + chunk - 1) // chunk)):
        part = np.zeros(chunk, dtype=arr.dtype)
        seg = arr[k * chunk:(k + 1) * chunk]
        part[:len(seg)] = seg
        with open(os.path.join(store, member, str(k)), "wb") as fh:
            fh.write(zlib.compress(part.tobytes()))
    return {f"{member}/.zarray": {"shape": [len(arr)], "chunks": [chunk],
                                  "dtype": arr.dtype.str, "compressor": {"id": "zlib"}}}


class CorruptedOutputTest(unittest.TestCase):
    def setUp(self):
        self.dir = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.dir)

    def sc_store(self, corrupt):
        root = tempfile.mkdtemp(dir=self.dir)
        data = os.path.join(root, "data")
        with mock.patch.object(gen, "SC_CELLS", 80):
            meta = gen.generate("sc_atlas", 3, data)
        rows, genes, exact, label = check.expected_sc(data, meta)
        n = len(label)
        vals = np.round(exact, 4)
        if corrupt:
            vals[7] += 0.01
        store = os.path.join(root, "work", "atlas.zarr")
        zmeta = {"X/.zattrs": {"encoding-type": "csr_matrix", "shape": [n, meta["genes"]]}}
        indptr = np.concatenate([[0], np.cumsum(np.bincount(rows, minlength=n))])
        zmeta.update(write_member(store, "X/data", vals))
        zmeta.update(write_member(store, "X/indices", genes.astype("<i8")))
        zmeta.update(write_member(store, "X/indptr", indptr.astype("<i8")))
        zmeta.update(write_member(store, "obs/label", label.astype("<i4")))
        with open(os.path.join(store, ".zmetadata"), "w") as fh:
            json.dump({"metadata": zmeta}, fh)
        skip = {"reopen", "hvg", "pca", "markers"}
        return check.check_sc(data, root, os.path.join(root, "work"), meta,
                              {"kept_cells": n}, skip)

    def test_sc_store_check(self):
        self.assertEqual(self.sc_store(corrupt=False), [])
        self.assertTrue(any("store" in p for p in self.sc_store(corrupt=True)))

    def test_oracle_comparator(self):
        df = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
        self.assertIsNone(check.compare_frames(df, df.iloc[::-1].copy()))
        bad = df.copy()
        bad.loc[1, "v"] = 1.2501
        self.assertIn("value[v]", check.compare_frames(bad, df))
        self.assertIn("rows", check.compare_frames(df.iloc[:2], df))

    def test_llm_lsh_check(self):
        data = os.path.join(self.dir, "data")
        with mock.patch.object(gen, "LLM_DOCS", 200), mock.patch.object(gen, "LLM_VECS", 300):
            meta = gen.generate("llm_dedup", 5, data)
        emb = pd.read_parquet(os.path.join(data, "embeddings.parquet"))
        v = np.stack(emb.embedding.values).astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        sims = v @ v.T
        i, j = np.nonzero(np.triu(sims >= 0.36, k=1))
        out = os.path.join(self.dir, "check", "q_similarity_lsh")
        skip = {"q_dedup_minhash", "q_dedup_prefix", "q_similarity_ivf"}

        def run(pairs):
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            pd.DataFrame(pairs, columns=["id1", "id2", "cosine"]).to_parquet(
                os.path.join(out, "part-0.parquet"))
            return check.check_llm(data, os.path.dirname(out), meta, skip)

        good = [(a, b, round(sims[a, b], 4)) for a, b in zip(i, j)]
        self.assertEqual(run(good), [])
        a, b = np.unravel_index(np.argmin(sims), sims.shape)
        self.assertTrue(run(good + [(min(a, b), max(a, b), 0.9)]))


if __name__ == "__main__":
    unittest.main()
