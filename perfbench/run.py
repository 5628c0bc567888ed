#!/usr/bin/env python3
"""Runs one benchmark workload against the graft engine and prints one JSON
result line.

    python3 perfbench/run.py --workload <analytics|reference_flow>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark (sbt, offline), generates the input tables and caches the DuckDB
oracle results, all under `.bench_build/`. Each run then starts one JVM
with one local Spark session, checks the outputs and prints
`{"correct", "attempted", "failed", "metrics"}` as its last line. See
perfbench/README.md for the workloads, metrics and layer map.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no caches beside the imported modules
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
DATA = os.path.join(BUILD, "data", "sf0.1")
# smaller tables from another data seed, for the engine warm-up
WARMUP_DATA = os.path.join(BUILD, "data", "sf0.01")
EXPECTED = os.path.join(BUILD, "expected")
LAYOUT_ROOT = "/tmp/graft_layout"  # where the engine keeps its sketch stores
# a run must end within 180 s; the first one in a checkout, which builds,
# within 900 s
DEADLINE_S, FIRST_RUN_DEADLINE_S = 175, 880
START = time.time()

WORKLOADS = ("analytics", "reference_flow")
# test R² the fare model must reach on the seeded fixture
R2_FLOOR = 0.8

sys.path.insert(0, HERE)
import gen_data  # noqa: E402


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark once per source state."""
    sources = (glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
               + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
               + [os.path.join(HERE, "build.sbt"),
                  os.path.join(HERE, "project", "build.properties")])
    stamp_path = os.path.join(BUILD, "build.stamp")
    stamp = tree_hash(sources)
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return False
    log("building engine and benchmark (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    with open(stamp_path, "w") as f:
        f.write(stamp)
    # the oracle SQL is read from the build it belongs to
    with contextlib.suppress(FileNotFoundError):
        os.remove(os.path.join(BUILD, "oracle_sql.json"))
    return True


def ensure_data():
    stamp = tree_hash([os.path.join(HERE, "gen_data.py")])
    for out, sf, seed in ((DATA, 0.1, 42), (WARMUP_DATA, 0.01, 7)):
        sp = os.path.join(out, ".stamp")
        if os.path.exists(sp) and open(sp).read() == stamp:
            continue
        log(f"generating tables sf={sf}")
        shutil.rmtree(out, ignore_errors=True)
        gen_data.generate(out, sf=sf, seed=seed)
        with open(sp, "w") as f:
            f.write(stamp)


def java_cmd(args, work):
    cp = os.pathsep.join([CLASSES, os.path.join(os.environ.get("SPARK_HOME", "spark"), "jars", "*")])
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    flags = [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # a fixed heap size keeps peak memory from following the collector's
    # resizing decisions
    return (["java", "-Xms4g", "-Xmx4g", "-XX:+UseParallelGC", *flags,
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}/derby",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", cp, "perfbench.Main"] + args)


def oracle_sql():
    path = os.path.join(BUILD, "oracle_sql.json")
    if not os.path.exists(path):
        os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
        r = subprocess.run(java_cmd(["--oracle-sql", path], BUILD), stdout=subprocess.PIPE,
                           stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            fail("could not read the oracle SQL")
    return json.load(open(path))


def ensure_expected(queries):
    """DuckDB oracle results on the generated tables, computed once. Types
    DuckDB cannot keep in parquet (HUGEINT) are stored as text and cast
    back when the comparator reads them."""
    import duckdb
    os.makedirs(EXPECTED, exist_ok=True)
    con = None
    for name, sql in queries.items():
        out = expected_path(name, sql) + ".json"
        if os.path.exists(out):
            continue
        if con is None:
            con = duckdb.connect()
            for t in gen_data_tables():
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{DATA}/{t}.parquet')")
        t0 = time.time()
        rel = con.sql(sql)
        types = [str(t) for t in rel.types]
        cols = [f'CAST("{c}" AS VARCHAR) AS "{c}"' if "HUGEINT" in t else f'"{c}"'
                for c, t in zip(rel.columns, types)]
        pq = expected_path(name, sql) + ".parquet"
        con.execute(f"COPY (SELECT {', '.join(cols)} FROM ({sql})) TO '{pq}' (FORMAT PARQUET)")
        with open(out, "w") as f:
            json.dump({"columns": rel.columns, "types": types}, f)
        log(f"oracle {name}: {time.time() - t0:.1f}s")


def expected_path(name, sql):
    """Cached oracle results are keyed by the SQL that produced them."""
    return os.path.join(EXPECTED, f"{name}-{hashlib.sha256(sql.encode()).hexdigest()[:16]}")


def gen_data_tables():
    return ["region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents", "embeddings"]


def check_outputs(results_dir, queries):
    """Compares each dumped result with its oracle result through the
    repository's comparator (tools/check_oracle.py). Returns the set of
    queries that failed."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    sqls = {}
    for name, sql in queries.items():
        path = expected_path(name, sql)
        meta = json.load(open(path + ".json"))
        cols = [f'CAST("{c}" AS {t}) AS "{c}"' for c, t in zip(meta["columns"], meta["types"])]
        sqls[name] = f"SELECT {', '.join(cols)} FROM read_parquet('{path}.parquet')"
    with open(os.path.join(results_dir, "oracle_sql.json"), "w") as f:
        json.dump(sqls, f)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check_oracle.main(results_dir, DATA)
    failed = set()
    for line in buf.getvalue().splitlines():
        if line.startswith("FAIL "):
            failed.add(line.split()[1].rstrip(":"))
            log(line[:300])
    return failed


def layout_entries():
    try:
        return set(os.listdir(LAYOUT_ROOT))
    except FileNotFoundError:
        return set()


def clean_layout(before, work):
    """Deletes the sketch stores this run created, and only those: the
    engine keys them on the source path, which lies under `work`."""
    prefix = "".join(c if c.isalnum() or c in "._-" else "_" for c in work + "/")
    for e in layout_entries() - before:
        if e.startswith(prefix):
            shutil.rmtree(os.path.join(LAYOUT_ROOT, e), ignore_errors=True)


def geomean(xs):
    """Typical latency of operations that differ in kind: unlike a median
    it does not jump between the fast and the slow ones."""
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def query_metrics(rec, seconds, oracle_failed):
    samples = rec["samples"]
    bad = [s["threw"] or not s["digest_ok"] or s["name"] in oracle_failed for s in samples]
    # a failed sample counts as beyond any latency limit, so it never
    # lowers the mean, and a query that throws is charged the whole window
    penalty = max([seconds * 1000.0] + [s["ms"] for s in samples])
    lat = [penalty if b else s["ms"] for s, b in zip(samples, bad)
           if s["dashboard"] and s["pass"] > 0]
    totals = {}
    for s in samples:
        totals[s["pass"]] = totals.get(s["pass"], 0.0) + (penalty if s["threw"] else s["ms"])
    warm = [v / 1000.0 for p, v in totals.items() if p > 0]
    return ({"op_geomean_ms": geomean(lat),
             "cold_s": totals[0] / 1000.0, "warm_s": statistics.median(warm)},
            len(samples), sum(bad))


def flow_metrics(rec, seconds):
    landed = rec["batch_landed"]
    penalty = max([seconds * 1000.0] + rec["batch_ms"])
    # the first batch starts the stream; like the first analytics pass it
    # counts in cold_s only
    lat = [ms if ok else penalty for ms, ok in zip(rec["batch_ms"], landed)][1:]
    failed = landed.count(False)
    if rec["rows_landed"] != rec["rows_sent"]:
        log(f"rows landed {rec['rows_landed']} != rows sent {rec['rows_sent']}")
        failed += 1
    if not rec["test_r2"] or rec["test_r2"] < R2_FLOOR:
        log(f"test R2 {rec['test_r2']} below the floor {R2_FLOOR}")
        failed += 1
    for s in rec["served"]:
        if s["served"] != s["uploaded"] or s["uploaded"] == 0:
            log(f"served {s['served']} rows of an upload of {s['uploaded']}")
            failed += 1
    attempted = len(rec["batch_ms"]) + 2 + len(rec["served"])
    return ({"op_geomean_ms": geomean(lat),
             "cold_s": rec["flow_s"], "warm_s": statistics.median(rec["serve_ms"][1:]) / 1000.0},
            attempted, failed)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources here: run from the root of a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    os.makedirs(BUILD, exist_ok=True)
    deadline = FIRST_RUN_DEADLINE_S if build() else DEADLINE_S
    ensure_data()
    queries = {}
    if a.workload != "reference_flow":
        queries = oracle_sql()
        ensure_expected(queries)

    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    before = layout_entries()
    logf = os.path.join(BUILD, f"last_{a.workload}.log")
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", DATA, "--warmup-data", WARMUP_DATA,
                "--work", work]
        launched = time.time()
        with open(logf, "w") as lf:
            try:
                r = subprocess.run(java_cmd(args, work), stdout=lf, stderr=subprocess.STDOUT,
                                   timeout=max(10.0, deadline - (launched - START)))
            except subprocess.TimeoutExpired:
                fail(f"run exceeded its deadline; log in {logf}")
        if r.returncode != 0:
            fail(f"benchmark JVM exited with {r.returncode}; log in {logf}")
        log(f"JVM ran {time.time() - launched:.1f}s ({launched - START:.1f}s before it)")
        rec = json.load(open(os.path.join(work, "run.json")))
        if a.workload == "reference_flow":
            metrics, attempted, failed = flow_metrics(rec, a.seconds)
        else:
            t0 = time.time()
            oracle_failed = check_outputs(rec["results_dir"], queries)
            log(f"output check {time.time() - t0:.1f}s")
            metrics, attempted, failed = query_metrics(rec, a.seconds, oracle_failed)
        jvm_start_s = rec["main_entry_ms"] / 1000.0 - launched
        metrics["setup_s"] = (jvm_start_s + statistics.median(rec["setup_reps_s"])
                              + rec["warmup_s"])
        metrics["peak_rss_mb"] = rec["peak_rss_mb"]
        shutil.copy(os.path.join(work, "run.json"), os.path.join(BUILD, f"last_{a.workload}.json"))
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(BUILD, f"last_{a.workload}_spans.jsonl"))
    finally:
        clean_layout(before, work)
        shutil.rmtree(work, ignore_errors=True)

    log(f"{a.workload}: {attempted} attempted, {failed} failed "
        f"(failed_ratio {failed / attempted:.4f}) on {rec['cores']} cores")
    units = {"op_geomean_ms": "ms", "cold_s": "s", "warm_s": "s",
             "setup_s": "s", "peak_rss_mb": "MB"}
    if a.trace:
        out = {k: {"value": v, "unit": layer_unit(k)} for k, v in rec["layers"].items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


def layer_unit(name):
    if name.endswith("_ms") or ".build_ms." in name:
        return "ms"
    if name.endswith("_bytes") or name.startswith("stores.bytes."):
        return "bytes"
    if name.endswith("_ratio") or name.endswith("core_util"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
