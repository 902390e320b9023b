#!/usr/bin/env python3
"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The first run in a checkout compiles the
engine with the benchmark (perfbench/build.sbt), generates the input tables
and computes the DuckDB oracle fingerprints; later runs reuse all three
(kept under perfbench/.work and perfbench/target). The frozen query list and
ingest rates are in perfbench/workloads.json; metric names and units in
BENCHMARK.json. See perfbench/BENCHMARK.md.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DEADLINE_S = 170  # a run must end within 180 s; keep a margin for the result line
WORKLOADS = ("queries", "ingest-upsert")
DATA = os.path.join(WORK, "data")
TABLES = ["region", "nation", "supplier", "part", "customer", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    """Hash of every build input: the engine sources and the benchmark's own."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), HERE):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in (".work", "target", ".bsp")
                             and not (d == os.path.join(HERE, "project") and x == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    st = os.stat(p)
                    h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build(deadline):
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("building (sbt writeClasspath)")
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=(os.environ.get("SBT_OPTS", "") +
                         f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip())
    rc, _ = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                     cwd=HERE, env=env, timeout=deadline - time.time(),
                     log_path=os.path.join(WORK, "build.log"))
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (exit {rc}); see perfbench/.work/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- processes

def run_proc(cmd, cwd, env, timeout, log_path):
    """Runs `cmd` in its own process group; returns (exit code, stdout).
    On timeout the whole group is killed and reaped."""
    with open(log_path, "wb") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=err,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            log(f"timed out: {' '.join(cmd[:1] + cmd[-12:])}")
            return -1, b""
    return p.returncode, out


def driver_mem():
    """The driver heap the tier-1 test run computes: half the RAM, 2g..8g."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cpus():
    return len(os.sched_getaffinity(0))


ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def jvm(classpath, mode, args, deadline, tag):
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a heap fixed at its full size, so no run's timings depend on how it grew
    cmd = ["java", f"-Xmx{driver_mem()}", f"-Xms{driver_mem()}", "-XX:ReservedCodeCacheSize=1g",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main", mode]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    rc, out = run_proc(cmd, cwd=ROOT, env=dict(os.environ), timeout=deadline - time.time(),
                       log_path=os.path.join(WORK, f"{tag}.log"))
    lines = [l for l in out.decode(errors="replace").splitlines() if l.startswith("{")]
    if rc != 0 or not lines:
        fail(f"{mode} failed (exit {rc}); see perfbench/.work/{tag}.log")
    return json.loads(lines[-1])


# ---------------------------------------------------------------- inputs

def ensure_data(classpath, deadline):
    ready = os.path.join(DATA, "_READY")
    if not os.path.exists(ready):
        log("generating tables")
        r = jvm(classpath, "gen", {"data": DATA, "cpus": cpus(),
                                   "work": os.path.join(WORK, "gen")}, deadline, "gen")
        with open(ready, "w") as f:
            json.dump(r, f)


def canon(v):
    """Value key that is equal exactly when tools/check.py's `==` row
    comparison is (numbers compare by value across int/float/decimal)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, (int, float, decimal.Decimal)):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        if isinstance(v, float) and math.isinf(v):
            return ("inf", v > 0)
        with decimal.localcontext(decimal.Context(prec=120)):
            return ("n", str(decimal.Decimal(v).normalize()))
    if isinstance(v, (list, tuple)):
        return ("l", tuple(canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((repr(canon(k)), canon(x)) for k, x in v.items())))
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc)
    return (type(v).__name__, repr(v))


def fingerprint(con, sql):
    """(sha256, rows) of a result: columns ordered by name, rows in order."""
    cur = con.execute(sql)
    cols = [c[0] for c in cur.description]
    perm = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256(repr(sorted(cols)).encode())
    n = 0
    while True:
        chunk = cur.fetchmany(10000)
        if not chunk:
            break
        for r in chunk:
            h.update(repr(tuple(canon(r[i]) for i in perm)).encode())
            n += 1
    return h.hexdigest(), n


def duck(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet/*.parquet')")
    return con


def oracle(classpath, queries, deadline):
    """Oracle fingerprints of the queries, cached per (data files, SQL text)."""
    data = DATA
    key = hashlib.sha256(json.dumps(
        [(t, os.path.getsize(p), os.stat(p).st_mtime_ns) for t in TABLES
         for p in sorted(os.path.join(data, f"{t}.parquet", f)
                         for f in os.listdir(os.path.join(data, f"{t}.parquet"))
                         if f.endswith(".parquet"))]).encode()).hexdigest()
    cache_path = os.path.join(WORK, "oracle.json")
    cache = json.load(open(cache_path)) if os.path.exists(cache_path) else {}
    # the oracle SQL is part of the engine: dump it once per build
    sql_path = os.path.join(WORK, "oracle_sql.json")
    stamp = open(os.path.join(WORK, "build.stamp")).read()
    sqls = json.load(open(sql_path)) if os.path.exists(sql_path) else {}
    if sqls.get("build") != stamp:
        jvm(classpath, "oracle-sql", {"out": sql_path}, deadline, "oracle")
        sqls = {"build": stamp, "sql": json.load(open(sql_path))}
        with open(sql_path, "w") as f:
            json.dump(sqls, f)
    sqls = sqls["sql"]
    con = None
    out = {}
    for q in queries:
        sql = sqls.get(q)
        if sql is None:
            out[q] = None  # no oracle by design: listed as unchecked
            continue
        ck = hashlib.sha256((key + sql).encode()).hexdigest()
        if cache.get(q, {}).get("key") != ck:
            con = con or duck(data)
            t0 = time.time()
            try:
                fp, n = fingerprint(con, sql)
            except Exception as e:  # an oracle that cannot run counts against the query
                fp, n = f"oracle error: {type(e).__name__}: {e}", -1
            cache[q] = {"key": ck, "fp": fp, "rows": n, "secs": round(time.time() - t0, 3)}
            with open(cache_path, "w") as f:
                json.dump(cache, f, indent=1, sort_keys=True)
        out[q] = cache[q]
    return out


def check_results(data, dump, queries, oracles):
    """Fingerprint each dumped Spark result against its oracle."""
    con = duck(data)
    mismatches, unchecked = [], []
    for q in queries:
        o = oracles.get(q)
        if o is None:
            unchecked.append(q)
            continue
        path = os.path.join(dump, q)
        if not os.path.isdir(path):
            continue  # the query failed in the check pass: counted and reported there
        try:
            fp, n = fingerprint(con, f"SELECT * FROM read_parquet('{path}/*.parquet')")
        except Exception as e:
            fp, n = f"unreadable: {e}", -1
        if fp != o["fp"]:
            mismatches.append(f"{q}: {n} rows vs oracle {o['rows']} rows, fingerprints differ")
    return mismatches, unchecked


# ---------------------------------------------------------------- main

def result_line(bench, attempted, failed, values, trace):
    kind = "per_layer" if trace else "end_to_end"
    metrics = {}
    for m in bench[kind]:
        v = values.get(m["name"])
        if v is None or (isinstance(v, float) and (math.isnan(v) or math.isinf(v))):
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": failed == 0, "attempted": int(attempted),
            "failed": int(failed), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="check that the traced ingest composition leaves the store runToStore leaves")
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala) not found: run from a full checkout")
    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found at the checkout root")
    bench = json.load(open(bench_path))
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    os.makedirs(WORK, exist_ok=True)

    # the first run in a checkout builds and prepares; it may take longer
    first = not os.path.exists(os.path.join(WORK, "build.stamp"))
    deadline = start + (880 if first else DEADLINE_S)
    classpath = build(deadline)

    if a.selftest:
        r = jvm(classpath, "selftest", {"work": os.path.join(WORK, "selftest"), "cpus": cpus(),
                                        "seed": a.seed}, deadline, "selftest")
        print(json.dumps(r))
        sys.exit(0 if r["failed"] == 0 else 1)

    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload!r}; known: {list(WORKLOADS)}")
    queries = workloads["light"] + workloads["heavy"]
    # the query inputs are prepared once per checkout, on the first run and
    # within its long budget, whichever workload it runs
    ensure_data(classpath, deadline)
    oracles = oracle(classpath, queries, deadline)
    if first:
        deadline = time.time() + DEADLINE_S

    run_dir = os.path.join(WORK, "run", a.workload)
    if a.workload == "queries":
        dump = os.path.join(WORK, "results", a.workload)
        r = jvm(classpath, "batch", {
            "light": ",".join(workloads["light"]), "heavy": ",".join(workloads["heavy"]),
            "data": DATA, "dump": dump, "work": run_dir, "cpus": cpus(), "seed": a.seed,
            "seconds": a.seconds, "trace": a.trace},
            deadline, a.workload)
        mismatches, unchecked = check_results(DATA, dump, queries, oracles)
        r["failed"] += len(mismatches)
        r["failures"] += mismatches
        log(f"oracle: {len(queries) - len(unchecked)} checked, "
            f"{len(mismatches)} mismatched, unchecked (no oracle): {unchecked}")
    else:
        r = jvm(classpath, "ingest", {
            "work": run_dir, "cpus": cpus(), "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "low": workloads["low_rows_per_s"],
            "high": workloads["high_rows_per_s"]}, deadline, a.workload)
        log(f"ingest detail: {json.dumps(r.get('detail', {}))}")
    if a.trace:  # self-check: layer spans cover >= 90 % of every query's / batch's wall time
        coverage = r["metrics"]["trace.coverage_min"]
        log(f"trace coverage: lowest {coverage:.3f} (must be >= 0.90)")
        if coverage < 0.9:
            r["failed"] += 1
            r["failures"].append(f"trace coverage {coverage:.3f} below 0.90")
    for f in r["failures"]:
        log(f"failure: {f}")
    with open(os.path.join(WORK, f"last-{a.workload}-trace{a.trace}.json"), "w") as f:
        json.dump(r, f, indent=1)
    print(json.dumps(result_line(bench, r["attempted"], r["failed"], r["metrics"], a.trace)))


if __name__ == "__main__":
    main()
