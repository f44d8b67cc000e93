#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. Builds graft and the benchmark from
source (perfbench/build.py), writes the seeded inputs, runs one JVM
(perfbench/src/graftbench/Main.scala) and prints the result JSON as the
last line of stdout. The full run record and, with --trace 1, the spans
are written under .bench_build/runs/. Workloads: ingest_copy and
corpus_pipeline (the ones BENCHMARK.json names), and sql_mix, which runs
only by hand (see perfbench/README.md).

--selfcheck runs every workload once at sf0.001, traced and untraced, and
fails unless every metric named in BENCHMARK.json is emitted with its unit
and no operation failed.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ("ingest_copy", "sql_mix", "corpus_pipeline")
SCALE = "sf0.01"
SPLIT_FILES = 8          # files in the derived lineitem corpus
SPLIT_SHIFT = 10 ** 9    # key shift unit, Main.SplitShift
HEAP = "3g"
JVM_TIMEOUT_S = 170

# the --add-opens list build.sbt gives forked JVMs: Spark 4 on JDK 17 outside
# spark-submit needs it
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def split_corpus(scale, seed, out):
    """Write the seeded multi-file lineitem corpus to `out`: SPLIT_FILES
    key-shifted copies of the as-given lineitem, each with its own seeded
    row order and key shift, one file (one row group) each."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    os.makedirs(out)
    src = pq.read_table(os.path.join(BENCH, "data", scale, "lineitem.parquet"))
    rng = np.random.default_rng(seed)
    shifts = rng.choice(np.arange(1, 1000), size=SPLIT_FILES, replace=False)
    key = src.column("l_orderkey")
    idx = src.schema.get_field_index("l_orderkey")
    for i, s in enumerate(shifts):
        shifted = pa.compute.add(key, pa.scalar(int(s) * SPLIT_SHIFT, pa.int64()))
        t = src.set_column(idx, src.schema.field(idx), shifted)
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out, f"part-{i:02d}.parquet"),
                       row_group_size=t.num_rows)
    return out


def commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return r.stdout.strip() if r.returncode == 0 else "none"
    except OSError:
        return "none"


def run_jvm(cp, workload, seed, seconds, trace, scale=SCALE):
    tag = f"{workload}-{scale}-seed{seed}-trace{trace}"
    tmp = os.path.join(BUILD, "tmp", tag)
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(os.path.join(BUILD, "runs"), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    out = os.path.join(BUILD, "runs", tag + ".json")
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", os.path.join(BENCH, "data"),
            "--scale", scale, "--expected", os.path.join(BENCH, "expected.txt"),
            "--out", out, "--source", cp[1], "--commit", commit()]
    if workload == "ingest_copy":
        args += ["--splitdir", split_corpus(scale, seed, os.path.join(tmp, "split"))]
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", cp[0], "graftbench.Main"] + args)
    log_path = os.path.join(BUILD, "logs", tag + ".log")
    try:
        with open(log_path, "w") as log:
            p = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, stderr=log,
                                 text=True, start_new_session=True)
            try:
                stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s (log: {log_path})")
            finally:
                if p.poll() is None:
                    os.killpg(p.pid, signal.SIGKILL)
                    p.wait()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        fail(f"{workload} exited with {p.returncode} (log: {log_path})")
    return json.loads(lines[-1])


def selfcheck(cp, spec):
    problems = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run_jvm(cp, w, 1, 1, trace, "sf0.001")
            got = res["metrics"]
            for m in spec[key]:
                v = got.get(m["name"])
                if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: {m['name']} missing or without unit {m['unit']}")
            if res["failed"] != 0 or not res["correct"]:
                problems.append(f"{w} trace={trace}: {res['failed']} of {res['attempted']} operations failed")
            print(f"{w} trace={trace}: {len(got)} metrics, "
                  f"{res['attempted']} operations, {res['failed']} failed")
    for p in problems:
        print("FAIL " + p)
    print("selfcheck " + ("failed" if problems else "passed"))
    return 1 if problems else 0


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    if a.selfcheck:
        sys.exit(selfcheck(cp, spec))
    if a.workload is None:
        fail("--workload is required")
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)
    # the result carries exactly the metrics BENCHMARK.json names for this
    # mode; the run record keeps the rest
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    res["metrics"] = {n: res["metrics"][n] for n in names if n in res["metrics"]}
    print(json.dumps(res, separators=(",", ":")))


if __name__ == "__main__":
    main()
