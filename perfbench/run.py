#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run builds graft and the
benchmark with sbt (perfbench/build.sbt depends on the root build);
later runs reuse the build while no source file changed. One JVM then
generates the seeded inputs (cached per seed), sets up one Spark
session, warms up, runs the workload's operations in a closed loop for
--seconds, and checks every output. This script adds the DuckDB oracle
check for every query operation and prints one JSON result line last.

Everything the benchmark writes stays under perfbench/.work and the
sbt target directories. See perfbench/README.md for the workloads and
the metrics.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# a fixed heap: peak RSS then does not hinge on how far G1 chose to grow
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit (same list as graft's build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every file the build reads, so an unchanged tree skips sbt."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += glob.glob(os.path.join(base, "*.sbt"))
        files += glob.glob(os.path.join(base, "*.properties"))
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cp:
                    return cp.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "writeClasspath"],
                       HERE, env, fh, BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cp:
        return cp.read().strip()


def run_child(cmd, cwd, env, out, timeout):
    """Run a child in its own process group and wait for it to end; on
    timeout the whole group is killed."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.wait()
        return -9
    finally:
        if p.poll() is None:
            os.killpg(p.pid, 9)
            p.wait()


STRIDE = 1000000
# entity keys shifted by the seeded offset (graft.ScaleUp.ShiftCols)
SHIFT_COLS = {
    "customer": ["c_custkey"], "supplier": ["s_suppkey"], "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"], "documents": ["doc_id"],
    "embeddings": ["vec_id"], "region": [], "nation": [],
}
KEEP_SEEDS = 6


def generate_inputs(seed):
    """Build the inputs for one seed from the base tables, or reuse the
    cached copy. Returns (directory, seconds spent generating).

    The base is a copy of graft's sf0.01 testdata. The seed moves two
    things: every entity key is shifted by (1 + seed mod 97) * STRIDE,
    graft.ScaleUp's key-stride rule for one replica, which moves every
    hash partitioning while keeping joins and group sizes; and the row
    order inside each file. STRIDE is above every base key and the
    largest shifted key stays below 2^31. The etl extract also gets a
    scraped-table CSV of the orders: totals as "123,456.78", an en-dash
    for a missing total on every 50th order, padded lower-case
    priority names."""
    import duckdb
    root = os.path.join(WORK, "inputs")
    dest = os.path.join(root, f"s{seed}")
    done = os.path.join(dest, "_GENERATED")
    if os.path.exists(done):
        return dest, 0.0
    t0 = time.time()
    old = sorted(glob.glob(os.path.join(root, "s*")), key=os.path.getmtime)
    for d in old[:max(0, len(old) - KEEP_SEEDS + 1)]:
        shutil.rmtree(d, ignore_errors=True)
    shutil.rmtree(dest, ignore_errors=True)
    base = os.path.join(HERE, "data", "base")
    offset = (1 + seed % 97) * STRIDE
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t, keys in SHIFT_COLS.items():
        src = f"read_parquet('{base}/{t}.parquet')"
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()]
        shift = f" REPLACE ({', '.join(f'{k} + {offset} AS {k}' for k in keys)})" if keys else ""
        os.makedirs(os.path.join(dest, f"{t}.parquet"))
        con.execute(f"COPY (SELECT *{shift} FROM {src} "
                    f"ORDER BY hash({seed}, {', '.join(cols)})) "
                    f"TO '{dest}/{t}.parquet/part-0.parquet' (FORMAT parquet)")
    os.makedirs(os.path.join(dest, "orders_csv"))
    cents = "round(o_totalprice * 100)::BIGINT"
    con.execute(f"""COPY (SELECT o_orderkey, o_custkey, o_orderstatus,
          CASE WHEN o_orderkey % 50 = 0 THEN '–'
               ELSE format('{{:,}}', {cents} // 100) || '.' ||
                    lpad(({cents} % 100)::VARCHAR, 2, '0') END AS o_totalprice,
          '  ' || lower(replace(o_orderpriority, '-', ' ')) || ' ' AS o_orderpriority
        FROM read_parquet('{dest}/orders.parquet/*.parquet'))
        TO '{dest}/orders_csv/part-0.csv' (HEADER)""")
    con.close()
    with open(done, "w") as fh:
        fh.write(f"seed={seed}\n")
    return dest, time.time() - t0


def oracle_check(inputs, check_dir):
    """Compare each query's output with its oracle SQL run by DuckDB on
    the same inputs, canonicalized as tools/verify_local.py does.
    Returns {query: reason} for every mismatch."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "verify_local", os.path.join(ROOT, "tools", "verify_local.py"))
    verify = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(verify)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    bad = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if not sql:
            bad[name] = "no oracle SQL"
            continue
        if not files:
            bad[name] = "no output to check"
            continue
        try:
            got = verify.canon(pd.concat([pd.read_parquet(f) for f in files]))
            want = verify.canon(con.execute(sql).df())
        except Exception as e:  # a failing oracle is a failed check, by name
            bad[name] = f"oracle error: {e}"
            continue
        if list(got.columns) != list(want.columns):
            bad[name] = f"columns {list(got.columns)} != {list(want.columns)}"
        elif len(got) != len(want):
            bad[name] = f"rows {len(got)} != {len(want)}"
        elif not got.equals(want):
            bad[name] = f"{int((got != want).any(axis=1).sum())} rows differ"
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"graft's sources are not next to the benchmark ({ROOT})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    inputs, gen_s = generate_inputs(a.seed)
    java = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={run_dir}",
        # no fsync per commit: the loads measure graft's sink path, not
        # the disk's flush latency
        "-Dderby.system.durability=test",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload,
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", WORK, "--inputs", inputs,
        "--cores", str(cores),
        "--spawn-ms", str(int(time.time() * 1000)),
    ]
    log = os.path.join(run_dir, "jvm.log")
    t_jvm = time.time()
    with open(log, "w") as fh:
        rc = run_child(java, ROOT, env, fh, JVM_TIMEOUT_S)
    t_jvm = time.time() - t_jvm
    result_file = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_file):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"benchmark JVM failed (exit {rc}); log in {log}")
    with open(result_file) as fh:
        res = json.load(fh)

    # an operation that threw counts once per pass in which it threw;
    # an operation whose output is wrong failed every time it ran
    failed_runs = {}
    for f in res["failures"]:
        failed_runs.setdefault(f["op"], set()).add(f["pass"])
    wrong = dict(res["check_failures"])
    t_oracle = time.time()
    wrong.update(oracle_check(inputs, os.path.join(run_dir, "check")))
    t_oracle = time.time() - t_oracle
    failed = 0
    for op, n in res["executions"].items():
        is_wrong = any(c in wrong for c in res["checks"][op])
        failed += n if is_wrong else len(failed_runs.get(op, ()))
    attempted = sum(res["executions"].values())
    for op, why in sorted(wrong.items()):
        print(f"perfbench: output check failed: {op}: {why}", file=sys.stderr)
    for f in res["failures"]:
        print(f"perfbench: pass {f['pass']} {f['op']} threw: {f['error']}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed={a.seed} passes={res['passes']} "
          f"pass_s={res['pass_s']} gen_s={gen_s:.2f} jvm_s={t_jvm:.1f} "
          f"oracle_s={t_oracle:.1f} failed={failed}/{attempted}",
          file=sys.stderr)

    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
