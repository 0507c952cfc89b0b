#!/usr/bin/env python3
"""RAG engine benchmark: one run of one workload.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ingest_batch and ingest_stream (see BENCHMARK.json and
perfbench/README.md). The first run in a checkout builds
the engine and the benchmark with sbt (offline); later runs reuse the build
while no source file changed.

The benchmark JVM (perfbench.Main) sets up, measures, checks its outputs and
prints its metrics. When a run timed the curation queries (traced
`ingest_batch` runs), this script then compares each query's output with DuckDB on the
query's oracle SQL, as tools/check_oracle.py does.
The last line of stdout is one JSON object:
{"correct": …, "attempted": …, "failed": …, "metrics": {name: {value, unit}}}
with the end-to-end metrics of BENCHMARK.json for --trace 0 and its per-layer
metrics for --trace 1 (0 for a layer the workload does not run).

Everything the run writes stays under .perfbench/ in the checkout, besides
sbt's target/ directories.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 165  # JVM deadline; the contract allows 180 s per run
WORKLOADS = ("ingest_batch", "ingest_stream")

# Same module opens the engine's build passes to forked JVMs (Spark on JDK 17).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(BENCH, "project"), os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            st = os.stat(p)
            h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """sbt build of the engine plus the benchmark; returns the classpath."""
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=850)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -1
    if rc != 0 or not os.path.isfile(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def run_jvm(cp, args, work, deadline):
    # -UsePerfData: no hsperfdata file in the system temp dir, so the run
    # writes only under the checkout
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dsun.net.httpserver.nodelay=true",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + os.path.join(work, "derby")]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL, start_new_session=True, text=True)
        try:
            out, _ = p.communicate(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            fail(f"benchmark JVM timed out; log in {work}/jvm.log", 4)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if p.returncode != 0 or result is None:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"benchmark JVM failed (exit {p.returncode}); log in {work}/jvm.log", 5)
    return result


def canon(rows):
    """tools/check_oracle.py's comparison form: floats at 9 significant
    digits, NaN spelled out, rows sorted."""
    out = []
    for row in rows:
        vals = []
        for v in row:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else f"{v:.9g}")
            elif isinstance(v, list):
                vals.append(json.dumps([f"{x:.9g}" if isinstance(x, float) else x for x in v]))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


def check_curation(check, data):
    """Compares each curation query's output with DuckDB on its oracle SQL.
    Returns the number of query runs whose query failed the comparison.
    Oracle answers depend only on the SQL and the data, so they are cached
    under .perfbench/oracle/."""
    import duckdb
    with open(os.path.join(check, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(check, "runs.json")) as f:
        runs = json.load(f)
    docs = os.path.join(data, "documents.parquet")
    with open(docs, "rb") as f:
        data_hash = hashlib.sha256(f.read()).hexdigest()
    cache = os.path.join(STATE, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
    failed = 0
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{check}/{name}/*.parquet')").fetch_arrow_table()
            got_cols = sorted(got.column_names)
            got_rows = canon([tuple(d[c] for c in got_cols) for d in got.to_pylist()])
            key = hashlib.sha256(f"{data_hash}\0{sql}".encode()).hexdigest()
            cached = os.path.join(cache, key + ".json")
            if os.path.isfile(cached):
                with open(cached) as f:
                    exp_cols, exp_rows = json.load(f)
                exp_rows = [tuple(r) for r in exp_rows]
            else:
                exp = con.sql(sql).fetch_arrow_table()
                exp_cols = sorted(exp.column_names)
                exp_rows = canon([tuple(d[c] for c in exp_cols) for d in exp.to_pylist()])
                with open(cached + ".tmp", "w") as f:
                    json.dump([exp_cols, exp_rows], f)
                os.replace(cached + ".tmp", cached)
            ok = got_cols == exp_cols and got_rows == exp_rows
        except Exception as e:  # an unreadable output or a broken oracle is a failure
            print(f"curation check {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            print(f"curation check FAILED: {name}", file=sys.stderr)
            failed += runs.get(name, 1)
    return failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources here (build.sbt, src/main/scala/graft); run from a checkout root")
    os.makedirs(STATE, exist_ok=True)
    cp = build()
    start = time.time()  # the run's time limit counts from here, not from the build

    work = os.path.join(STATE, "work", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(BENCH, "data")
    result = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", a.trace,
                          "--data", data, "--work", work],
                     work, start + RUN_LIMIT_S)
    failed = result["failed"]
    check = os.path.join(work, "curate", "check")
    if os.path.isdir(check):
        failed += check_curation(check, data)
    if a.trace == "1":
        traces = os.path.join(STATE, "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
        shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
        print(f"spans: {os.path.relpath(spans, ROOT)}")
    logs = os.path.join(STATE, "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.copyfile(os.path.join(work, "jvm.log"),
                    os.path.join(logs, f"{a.workload}-{a.seed}-{a.trace}.log"))
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    got = result["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], {}).get("value")
        if v is None and a.trace == "1":
            v = 0.0  # the workload does not run this layer
        if v is None or not math.isfinite(v) or (a.trace == "0" and v <= 0):
            fail(f"metric {m['name']} missing or not positive: {v}", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": max(1, result["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
