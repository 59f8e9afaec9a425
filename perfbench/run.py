#!/usr/bin/env python3
"""Run one benchmark workload against the graft engine.

    python3 perfbench/run.py --workload ram_project --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the harness and the
engine from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. A run generates the workload's
inputs from the seed, starts one JVM (local[N], N <= 4), runs an untimed
warm-up pass and then timed passes for --seconds, checks every output,
and prints the metrics. The last stdout line is one JSON object:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import gen
import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_STAMP = os.path.join(HERE, "target", "bench-build.stamp")
CLASSPATH = os.path.join(HERE, "target", "bench-classpath.txt")
CDS_ARCHIVE = os.path.join(HERE, "target", "bench-classes.jsa")
HEAP = "2g"
YOUNG = "512m"
JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_hash():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main", "scala"),
            os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(home):
    """Compile the harness and the engine sources; skipped when the
    sources match the last build."""
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            if f.read() == digest:
                return
    if not shutil.which("sbt"):
        fail("sbt not found")
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.autostart=false", "writeClasspath"],
                       cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    with open(BUILD_STAMP, "w") as f:
        f.write(digest)


def cpus():
    return str(max(1, min(4, len(os.sched_getaffinity(0)))))


def run_jvm(args, work, inputs, out):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation, so peak RSS does not depend on
    # how G1 sizes them: with an adaptive young generation the pages it
    # touched varied by 15% between runs of one seed.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}",
           "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           # C1 only: one warm-up pass compiles every hot method, so the
           # timed pass runs at steady state. With C2 the first passes
           # after warm-up are 10-25% slower than later ones, by an
           # amount that varies from run to run with compile progress.
           "-XX:TieredStopAtLevel=1"]
    # Class-data sharing: the first run after a build dumps the classes it
    # loaded; later runs, of any workload, map them instead of loading and
    # verifying the Spark classes again, which halves session start.
    if os.path.exists(CDS_ARCHIVE):
        cmd.append(f"-XX:SharedArchiveFile={CDS_ARCHIVE}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--input", inputs, "--work", work, "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cpus", cpus(),
            "--run-id", os.path.basename(work), "--out", out]
    log_path = os.path.join(work, "jvm.log")
    launch_ms = time.time() * 1000
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=work, start_new_session=True)
        deadline = time.time() + JVM_TIMEOUT_S
        status, rusage = 0, None
        try:
            while True:
                pid, status, rusage = os.wait4(proc.pid, os.WNOHANG)
                if pid:
                    break
                if time.time() > deadline:
                    raise TimeoutError("JVM did not finish in time")
                time.sleep(0.05)
        finally:
            if rusage is None:
                os.killpg(proc.pid, signal.SIGKILL)
                os.wait4(proc.pid, 0)
    code = os.waitstatus_to_exitcode(status)
    if code != 0 or not os.path.exists(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {code}")
    peak_rss_mb = rusage.ru_maxrss / 1024.0
    return launch_ms, peak_rss_mb


def canon(df):
    """tools/check.py's canonical form: columns sorted by name, object
    columns as strings, rows sorted."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]")
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def oracle_checks(oracle, inputs):
    """Compare each pass's written result with the DuckDB restatement in
    SparkEntry.oracleSql over the generated inputs. Returns (attempted,
    failures)."""
    if not oracle:
        return 0, []
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for f in sorted(os.listdir(inputs)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(inputs, f)}')")
    attempted, failures = 0, []
    for key, o in sorted(oracle.items()):
        exp = canon(con.execute(o["sql"]).df())
        for d in o["dirs"]:
            attempted += 1
            try:
                got = canon(pd.read_parquet(d))
                ok = (list(got.columns) == list(exp.columns)
                      and len(got) == len(exp)
                      and all(got[c].dtype.kind == exp[c].dtype.kind
                              for c in got.columns))
                if ok:
                    pd.testing.assert_frame_equal(got, exp, check_dtype=False,
                                                  check_exact=True)
            except (AssertionError, OSError, ValueError):
                ok = False
            if not ok:
                failures.append(f"oracle mismatch: {key} at "
                                f"{os.path.relpath(d, ROOT)}")
    return attempted, failures


def metric_spec(trace):
    """name -> unit of the metrics a run reports, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if trace else "end_to_end"]
    return {m["name"]: m["unit"] for m in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found beside "
             "perfbench/; run from a full checkout")
    build(spark_home())

    work = os.path.join(HERE, "work",
                        f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "input")
    try:
        t0 = time.time()
        gen.generate(args.workload, args.seed, inputs)
        gen_s = time.time() - t0
        out = os.path.join(work, "record.json")
        launch_ms, peak_rss_mb = run_jvm(args, work, inputs, out)
        with open(out) as f:
            record = json.load(f)
        o_attempted, o_failures = oracle_checks(record["oracle"], inputs)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = record["attempted"] + o_attempted
    failures = record["failures"] + o_failures
    failed = record["failed"] + len(o_failures)
    session_s = (record["ready_ms"] - launch_ms) / 1000
    setup_s = gen_s + session_s + record["prepare_s"] + record["warmup_s"]
    e2e = metrics.end_to_end(record)
    c50, ctail, cp, cn = e2e["commit"]
    r50, rtail, rp, rn = e2e["read"]

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    print("fingerprint " + json.dumps(record["fingerprint"], sort_keys=True))
    for msg in failures:
        print(f"FAILED {msg}")
    print(f"failed_frac {failed / attempted:.6f} ({failed} of {attempted} "
          f"operations and checks)")
    print(f"setup: inputs {gen_s:.2f} s, session {session_s:.2f} s, prepare "
          f"{record['prepare_s']:.2f} s, warm-up {record['warmup_s']:.2f} s")
    print("pass walls (s): " + " ".join(
        f"{metrics.pass_wall_s(record, p):.2f}{'t' if p['traced'] else ''}"
        for p in record["passes"] if not p["warmup"]))
    sample = "pass" if record["latency_per_pass"] else "call"
    print(f"untraced timed passes {e2e['passes']}; one latency sample per "
          f"{sample}; commit tail p{cp:g} of {cn} samples; read tail "
          f"p{rp:g} of {rn} samples")
    units = metric_spec(args.trace)
    if args.trace == 0:
        values = {"setup_s": setup_s, "wall_s": e2e["wall_s"],
                  "peak_rss_mb": peak_rss_mb,
                  "commit_p50_s": c50, "commit_tail_s": ctail,
                  "read_p50_s": r50, "read_tail_s": rtail,
                  "write_amp": e2e["write_amp"],
                  "space_amp": e2e["space_amp"]}
    else:
        values = metrics.per_layer(record, units)
        values.update(record["counters"])
    values = {n: values.get(n, 0.0) for n in units}
    for n, v in values.items():
        print(f"{n} {v:.6g} {units[n]}")

    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {n: {"value": v, "unit": units[n]}
                          for n, v in values.items()}}
    save_result(args, record, result, {
        "setup_s": setup_s, "gen_s": gen_s, "commit_tail_pct": cp,
        "commit_samples": cn, "read_tail_pct": rp, "read_samples": rn,
        "failed_frac": failed / attempted, "failures": failures})
    print(json.dumps(result))
    return 0


def save_result(args, record, result, details):
    """Keep the run's result with its environment fingerprint, and the
    spans of a traced run, under perfbench/results/."""
    d = os.path.join(HERE, "results")
    os.makedirs(d, exist_ok=True)
    doc = {"workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace,
           "fingerprint": dict(record["fingerprint"], heap=HEAP,
                               young=YOUNG, jit="C1"),
           "result": result, "details": details}
    if args.trace:
        doc["spans"] = [{k: s[k] for k in ("id", "name", "parent", "run",
                                           "start", "end")}
                        for s in record["spans"]]
        doc["jobs"] = record["jobs"]
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(doc, f)


if __name__ == "__main__":
    sys.exit(main())
