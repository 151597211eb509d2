#!/usr/bin/env python3
"""FlockDB serving and write-path benchmark.

Usage (from the repository root):
  python3 perfbench/run.py --workload serve_read|write_mix --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Builds the program and the harness on first use (perfbench/build.sh), runs one workload
in a JVM (perfbench.Main), checks the answers, prints every metric with its unit and
sample count, and prints the result as one JSON object on the last line. With --trace 1
the run also executes the graph batch, whose results are checked here against the
DuckDB oracle SQL the program declares. See perfbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
WORKLOADS = ("serve_read", "write_mix")
# Time the JVM may use, and the slack kept for the oracle check and exit.
JVM_BUDGET_S = 150
JVM_HEAP = "3g"
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build():
    """Compile when the sources differ from the last build."""
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    log("building program and harness")
    t = time.time()
    os.makedirs(OUT, exist_ok=True)
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), spark_jars()], check=True, cwd=ROOT)
    with open(STAMP, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t:.1f} s")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("perfbench: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def jvm(args, run_dir, timeout_s):
    jars = spark_jars()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + sum([["--add-opens", f"java.base/{p}=ALL-UNNAMED"] for p in OPENS], []) + [
        f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{CLASSES}:{jars}/*", "perfbench.Main"] + args
    with open(os.path.join(run_dir, "jvm.out"), "w") as out, \
            open(os.path.join(run_dir, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=ROOT)
        try:
            return p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return None


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def oracle_check(batch_dir):
    """Compare every batch result with its oracle SQL in DuckDB (tools/compare.py's
    method: same columns, same row count, equal values after sorting)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{batch_dir}/input/events.parquet'")
    with open(os.path.join(batch_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = []
    for name, sql in sorted(oracle.items()):
        files = glob.glob(f"{batch_dir}/results/{name}/*.parquet")
        try:
            got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True) if files else None
            want = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001 - report any failure as a mismatch
            bad.append(f"{name}: {e}")
            continue
        if got is None:
            got = want.iloc[0:0]
        if sorted(got.columns) != sorted(want.columns) or len(got) != len(want):
            bad.append(f"{name}: shape {sorted(got.columns)} x {len(got)} vs "
                       f"{sorted(want.columns)} x {len(want)}")
        elif canon(got).astype(str).values.tolist() != canon(want).astype(str).values.tolist():
            bad.append(f"{name}: values differ")
    return len(oracle), bad


def expected_metrics(trace):
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def summary(res):
    samples = res.get("samples", {})
    for name, m in res["metrics"].items():
        n = samples.get(name)
        print(f"  {name:40s} {m['value']:>14.4f} {m['unit']:6s}" + (f" n={n}" if n else ""))
    info = res.get("info", {})
    for k, v in info.items():
        if k in ("write_batches", "window_execute_batches"):
            v = [f"{b['index']}:{b['ops']}ops/{b['executeMs']:.0f}ms/{b['status']}" for b in v]
        print(f"  info {k}: {json.dumps(v)[:400]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log("program sources (src/main/scala/graft) not found; nothing to benchmark")
        return 2
    if not a.selftest and a.workload not in WORKLOADS:
        log(f"unknown workload {a.workload!r}; expected one of {WORKLOADS}")
        return 2
    build()
    name = "selftest" if a.selftest else f"{a.workload}-s{a.seed}-t{a.trace}"
    run_dir = os.path.join(OUT, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if a.selftest:
        code = jvm(["--workload", "selftest", "--out", run_dir], run_dir, 170)
        print(open(os.path.join(run_dir, "jvm.out")).read(), end="")
        return 0 if code == 0 else 1
    code = jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", run_dir, "--budget-s", str(JVM_BUDGET_S)],
               run_dir, JVM_BUDGET_S + 10)
    result_path = os.path.join(run_dir, "result.json")
    if code is None or not os.path.exists(result_path):
        log(f"run did not finish (exit {code}); see {run_dir}/jvm.err")
        return 3
    with open(result_path) as fh:
        res = json.load(fh)
    correct = bool(res["correct"]) and code == 0
    for e in res.get("errors", []):
        log("ERROR " + e.splitlines()[0] if e else "ERROR")
    if res.get("mismatches"):
        log(f"ANSWER CHECK FAILED: {res['mismatches']} mismatches, e.g. {res['mismatch_examples'][:3]}")
    if a.trace and os.path.exists(os.path.join(run_dir, "batch", "oracle_sql.json")):
        n, bad = oracle_check(os.path.join(run_dir, "batch"))
        res.setdefault("info", {})["batch_oracle"] = f"{n - len(bad)} pass / {len(bad)} fail"
        for b in bad:
            log("BATCH ORACLE MISMATCH " + b)
        correct = correct and not bad
    want = expected_metrics(a.trace)
    if want is not None and sorted(want) != sorted(res["metrics"]):
        log(f"metric set differs from BENCHMARK.json: missing {sorted(set(want) - set(res['metrics']))}, "
            f"extra {sorted(set(res['metrics']) - set(want))}")
        correct = False
    for d in ("spark", "tmp", "warehouse", os.path.join("batch", "input"), os.path.join("batch", "results"),
              os.path.join("batch", "events_tmp")):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    print(f"{a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} correct={correct} "
          f"attempted={res['attempted']} failed={res['failed']}")
    summary(res)
    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in res["metrics"].items()}
    print(json.dumps({"correct": correct, "attempted": max(1, int(res["attempted"])),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
