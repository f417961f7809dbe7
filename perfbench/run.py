#!/usr/bin/env python3
"""Exporter benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload catchup --seed 1 --seconds 20 --trace 0

Builds the program and the benchmark from source (scalac from the Spark
distribution, into perfbench/.build), generates the seeded input tables
(perfbench/gen.py), runs the workload in one JVM (perfbench.Main), checks
every output against its DuckDB twin, and prints one JSON object as the
last line of stdout. A traced run (--trace 1) first runs the same seed
with tracing off, to report the tracing overhead. See perfbench/README.md.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
# JVM time allowed per invocation, after the build: the trace-off and the
# traced JVM of a traced run share it
TIMEOUT_S = 160

# Lineitem rows the inputs are generated at, per workload: catchup replays
# the whole trade and tick feed (one trade and one tick per lineitem row),
# four 40,000-row micro-batches per stream; curation stays at the smallest
# scale its entries need.
LINES = {"catchup": 160000, "curation": 30000}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    prog = sorted(glob.glob(os.path.join(PROGRAM_SRC, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    if not prog:
        die(f"no program sources under {os.path.relpath(PROGRAM_SRC, ROOT)}")
    return prog + bench


def build():
    """Compile program + benchmark sources unless the stamp matches."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(JARS, "*")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(BUILD, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        die("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def generate(d, seed, lines):
    sys.path.insert(0, HERE)
    import gen
    gen.generate(d, seed, lines)
    return d


def canon(rel):
    cols = sorted(rel.columns)
    df = rel.to_df()[cols]
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def run_checks(checks, data):
    """DuckDB side of the output checks; returns a list of failures."""
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data, t + '.parquet')}')")
    failed = []
    memo = {}  # episodes of one run repeat the same store query
    for c in checks:
        name = c["name"]
        try:
            if c["kind"] == "oracle":
                files = glob.glob(os.path.join(c["path"], "*.parquet"))
                got = canon(con.sql(f"SELECT * FROM read_parquet({files!r})"))
                want = canon(con.sql(c["sql"]))
                if list(got.columns) != list(want.columns):
                    failed.append(f"{name}: columns {list(got.columns)} vs {list(want.columns)}")
                elif len(got) != len(want) or not got.equals(want):
                    failed.append(f"{name}: {len(got)} rows differ from the DuckDB twin's {len(want)}")
            elif c["kind"] == "store":
                if c["sql"] not in memo:
                    memo[c["sql"]] = [int(v) if v is not None else 0
                                      for v in con.sql(c["sql"]).fetchone()]
                want = memo[c["sql"]]
                if want != c["got"]:
                    failed.append(f"{name}: store count/sum/max {c['got']} vs parquet {want}")
        except Exception as e:  # a check that cannot run is a failed check
            failed.append(f"{name}: {type(e).__name__}: {e}")
    return failed


OVERHEAD_METRICS = ["latency_p50_ms", "latency_p90_ms", "pass_s", "cold_pass_s",
                    "throughput_per_s"]


def overhead(off, on):
    """Tracing overhead per end-to-end metric, in percent of the trace-off
    value (positive = tracing costs), from two runs of the same seed."""
    return {f"trace.overhead_pct.{m}":
            100 * ((off[m] - on[m]) if m == "throughput_per_s" else (on[m] - off[m])) / off[m]
            for m in OVERHEAD_METRICS}


def run_jvm(classes, data, run, a, trace, deadline):
    """Run the workload in one JVM; returns its result.json, parsed."""
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    cores = min(4, os.cpu_count() or 1)
    cmd = (["java"] + [x for m in ADD_OPENS for x in ("--add-opens", m + "=ALL-UNNAMED")] +
           ["-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run}/tmp", f"-Dderby.system.home={run}/derby-home",
            f"-Dderby.stream.error.file={run}/derby.log",
            # no fsync on Derby commits: the store stands in for ClickHouse,
            # and shared-disk flush latency would swamp the Spark-side costs
            "-Dderby.system.durability=test",
            "-cp", classes + os.pathsep + os.path.join(JARS, "*"), "perfbench.Main",
            f"dir={data}", f"run={run}", f"workload={a.workload}",
            f"seconds={a.seconds}", f"trace={trace}", f"cores={cores}"])
    log_path = os.path.join(run, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"workload did not finish within {TIMEOUT_S} s of JVM time")
    if rc != 0 or not os.path.exists(os.path.join(run, "result.json")):
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        die(f"benchmark JVM exited with code {rc}")
    return json.load(open(os.path.join(run, "result.json")))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(LINES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = [m["name"] for m in (spec["per_layer"] if a.trace else spec["end_to_end"])]

    t_start = time.time()
    classes = build()
    deadline = time.time() + TIMEOUT_S
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = generate(os.path.join(work, "data"), a.seed, LINES[a.workload])
        t_launch = time.time()
        failures = []
        # a traced run is paired with a trace-off run of the same seed, so
        # that the overhead compares like with like
        off = None
        if a.trace:
            off = run_jvm(classes, data, os.path.join(work, "off"), a, 0, deadline)
            failures += off["failures"]
        res = run_jvm(classes, data, os.path.join(work, "run"), a, a.trace, deadline)
        t_jvm = time.time()
        failures += res["failures"] + run_checks(res["checks"], data)
        res["info"]["check_s"] = round(time.time() - t_jvm, 3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["info"]["prep_s"] = round(t_launch - t_start, 3)
    res["info"]["jvm_s"] = round(t_jvm - t_launch, 3)
    if off is not None:
        res["info"]["trace_off_e2e"] = off["e2e"]
        res["info"]["trace_on_e2e"] = res["e2e"]
        res["layers"].update(overhead(off["e2e"], res["e2e"]))
    values = res["layers"] if a.trace else res["e2e"]
    missing = [n for n in wanted if values.get(n) is None]
    if missing:
        die(f"metrics not produced: {missing}")
    for f in failures:
        print(f"FAILED {f}")
    for k, v in res["info"].items():
        print(f"info {k} = {v}")
    for n in wanted:
        print(f"metric {n} = {values[n]} {units[n]}")
    attempted = res["attempted"] + len(res["checks"]) + (off["attempted"] if off else 0)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in wanted},
    }))


if __name__ == "__main__":
    main()
