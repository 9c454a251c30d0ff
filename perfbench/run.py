"""The repo benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <sc_atlas|llm_dedup|sql_tail>
        --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (first run only), generates the
workload's inputs from the seed, runs the workload in one JVM on
`local[<cores>]` as a closed loop with one client (set-up, warm-up, timed
passes), checks every output independently of the program, and prints
one JSON line: `{"correct", "attempted", "failed", "metrics"}`. With
`--trace 0` the metrics are the end-to-end ones, with `--trace 1` the
per-layer ones. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

RUNS = os.path.join(HERE, ".runs")
HEAP = "3g"
JVM_TIMEOUT_S = 165

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_jvm(cp, workload, data, work, out, seconds, trace, log):
    """One JVM with a fresh tmpdir and Spark local dir under `work`."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           "-Dfile.encoding=UTF-8",
           f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.codegen.cache.maxEntries=10000"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload, "--data", data,
            "--work", work, "--out", out, "--seconds", str(seconds),
            "--trace", "1" if trace else "0"]
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=work)
        try:
            return proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return -9


def fail(log, rc) -> int:
    with open(log) as fh:
        sys.stderr.write(fh.read()[-3000:])
    sys.stderr.write(f"perfbench: JVM exited with {rc}\n")
    return 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args(argv)

    cp = build.build()
    run = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run, ignore_errors=True)
    data, work, out = (os.path.join(run, d) for d in ("data", "work", "out"))
    for d in (work, out):
        os.makedirs(d)
    try:
        clock = [("start", time.time())]
        meta = gen.generate(a.workload, a.seed, data)
        clock.append(("inputs", time.time()))
        log = os.path.join(run, "jvm.log")
        rc = run_jvm(cp, a.workload, data, work, out, a.seconds, a.trace == 1, log)
        clock.append(("main_jvm", time.time()))
        result_path = os.path.join(out, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            return fail(log, rc)
        with open(result_path) as fh:
            res = json.load(fh)
        problems = check.check(a.workload, data, os.path.join(out, "check"), work, res, meta)
        clock.append(("checks", time.time()))
        for p in problems:
            sys.stderr.write(f"perfbench: check failed: {p}\n")
        res["result_rows"] = stats.result_rows(os.path.join(out, "check"), stats.LLM_OPS)
        attempted, failed = stats.attempts(res)
        metrics = stats.per_layer(res) if a.trace else stats.end_to_end(res)
        line = {"correct": not problems, "attempted": attempted, "failed": failed,
                "metrics": metrics}
        sys.stderr.write(f"perfbench: loadavg {res.get('loadavg_start')} -> "
                         f"{res.get('loadavg_end')}, setups {res['setup_s']}, "
                         f"warm-up passes {res['warmup_s']}, phases "
                         + " ".join(f"{n} {t - clock[i][1]:.1f}s" for i, (n, t) in enumerate(clock[1:]))
                         + "\n")
        print(json.dumps(line))
        return 0
    finally:
        if not a.keep:
            shutil.rmtree(run, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
