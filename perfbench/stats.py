"""Metrics computed from the JVM's raw samples (`result.json`).

End-to-end metrics come from every timed pass of an untraced run;
per-layer metrics from the traced passes of a traced run. A pass-level
quantity is summed over the pass's ops, then the median over passes is
reported. A layer that does no work on a workload reports 0.
"""
import os
import statistics

SC_OPS = ["ingest", "reopen", "hvg", "pca", "markers"]
LLM_OPS = ["q_dedup_exact", "q_dedup_canon", "q_dedup_simhash", "q_dedup_minhash",
           "q_dedup_prefix", "q_split_leakage", "q_dedup_clusters", "q_similarity_knn",
           "q_similarity_lsh", "q_similarity_ivf"]
# the ops of the workloads in BENCHMARK.json; sql_tail runs by hand only
BENCH_OPS = SC_OPS + LLM_OPS

MB = 1e6

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_p50_s", "s"),
              ("op_slowest_s", "s"), ("alloc_mb", "MB"), ("disk_write_mb", "MB")]

# (name, unit, segment field, scale); segment fields are summed over both
# segments (build and consume) of every op in a pass
SEGMENT_SUMS = [
    ("jobs", "count", "jobs", 1), ("stages", "count", "stages", 1),
    ("tasks", "count", "tasks", 1), ("sched_wait_s", "s", "sched_wait_ms", 1e-3),
    ("task_busy_s", "s", "task_busy_ms", 1e-3),
    ("shuffle_write_mb", "MB", "shuffle_write_bytes", 1 / MB),
    ("shuffle_read_mb", "MB", "shuffle_read_bytes", 1 / MB),
    ("spill_mb", "MB", "spill_bytes", 1 / MB),
    ("analysis_s", "s", "analysis_ms", 1e-3), ("optimizer_s", "s", "optimizer_ms", 1e-3),
    ("planning_s", "s", "planning_ms", 1e-3),
    ("plan.exchange", "count", "exchange", 1), ("plan.smj", "count", "smj", 1),
    ("plan.bhj", "count", "bhj", 1), ("plan.bnlj", "count", "bnlj", 1),
    ("plan.window", "count", "window", 1),
]

PER_LAYER = ([("op.%s_s" % op, "s") for op in BENCH_OPS]
             + [("build_s", "s"), ("build_jobs", "count"), ("exec_s", "s")]
             + [(n, u) for n, u, _, _ in SEGMENT_SUMS]
             + [("task_skew", "ratio"), ("gc_s", "s"),
                ("zarr.write_s", "s"), ("zarr.read_s", "s"), ("zarr.store_mb", "MB"),
                ("llm.candidate_rows", "count"), ("llm.result_rows", "count"),
                ("llm.candidate_yield", "ratio"), ("cached_rdds_left", "count"),
                ("trace_overhead", "ratio")])


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def result_rows(check_dir, ops):
    """Rows of the given ops' outputs, as written by the check pass."""
    import pyarrow.parquet as pq
    total = 0
    for op in ops:
        path = os.path.join(check_dir, op)
        if os.path.isdir(path):
            total += pq.ParquetDataset(path).read().num_rows
    return total


def attempts(res):
    ops = [o for p in res["passes"] for o in p["ops"]]
    return len(ops), sum(1 for o in ops if not o["ok"])


def slowest_op(pass_):
    """The pass's bottleneck: the longest successful op."""
    return max((o["s"] for o in pass_["ops"] if o["ok"]), default=0.0)


def end_to_end(res):
    passes = res["passes"]
    vals = {
        "setup_s": median(res["setup_s"]),
        "pass_s": median(p["wall_s"] for p in passes),
        "op_p50_s": median(o["s"] for p in passes for o in p["ops"] if o["ok"]),
        "op_slowest_s": median(slowest_op(p) for p in passes),
        "alloc_mb": median(p["alloc_bytes"] / MB for p in passes),
        "disk_write_mb": median(p["written_bytes"] / MB for p in passes),
    }
    return {n: {"value": vals[n], "unit": u} for n, u in END_TO_END}


def _segments(op):
    return [op[s] for s in ("build", "consume") if s in op]


def _pass_layers(p, workload, result_rows):
    ops = p["ops"]
    v = {}
    for name, _, field, scale in SEGMENT_SUMS:
        v[name] = sum(seg[field] for o in ops for seg in _segments(o)) * scale
    v["build_s"] = sum(o.get("build_s", 0.0) for o in ops)
    v["build_jobs"] = sum(o["build"]["jobs"] for o in ops if "build" in o)
    consume_plan = sum((o["consume"]["analysis_ms"] + o["consume"]["optimizer_ms"]
                        + o["consume"]["planning_ms"]) * 1e-3 for o in ops if "consume" in o)
    v["exec_s"] = max(0.0, sum(o.get("consume_s", 0.0) for o in ops) - consume_plan)
    v["task_skew"] = max((seg["task_skew"] for o in ops for seg in _segments(o)), default=0.0)
    v["gc_s"] = p["gc_s"]
    v["zarr.write_s"] = sum(o.get("zarr.write_s", 0.0) for o in ops)
    v["zarr.read_s"] = sum(o["s"] for o in ops if o["op"] == "reopen" and o["ok"])
    cand = sum(seg["join_rows"] for o in ops if o["op"] in LLM_OPS for seg in _segments(o))
    v["llm.candidate_rows"] = cand
    v["llm.result_rows"] = result_rows if workload == "llm_dedup" else 0
    v["llm.candidate_yield"] = v["llm.result_rows"] / cand if cand else 0.0
    v["cached_rdds_left"] = sum(o["cached_rdds_left"] for o in ops)
    for o in ops:
        if o["ok"]:
            v["op.%s_s" % o["op"]] = o["s"]
    return v


def per_layer(res):
    traced = [p for p in res["passes"] if p.get("traced")]
    plain = [p for p in res["passes"] if not p.get("traced")]
    rows = res.get("result_rows", 0)
    per_pass = [_pass_layers(p, res["workload"], rows) for p in traced]
    out = {}
    for name, unit in PER_LAYER:
        if name == "zarr.store_mb":
            val = res.get("zarr_store_bytes", 0) / MB
        elif name == "trace_overhead":
            base = median(p["wall_s"] for p in plain)
            val = median(p["wall_s"] for p in traced) / base - 1.0 if base else 0.0
        else:
            val = median(v.get(name, 0.0) for v in per_pass)
        out[name] = {"value": val, "unit": unit}
    return out
