#!/usr/bin/env python3
"""Benchmark of the E→T→L pipeline and the query registry.

Run from the repository root:

    python3 perfbench/run.py --workload etl_fresh --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark's Spark driver (`perfbench.Main`) with
sbt when their sources changed, generates the workload's inputs from the
seed, runs one JVM with Spark local[N] (N = min(nproc, 2)), checks every
output, and prints one JSON line as the last line of stdout:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones from a
traced run. The workloads and the metrics are described in `BENCHMARK.json`
and `perfbench/README.md`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

import duckdb
import pandas as pd

import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
# at these data sizes local[2] is as fast as local[4], and two task threads
# leave the JVM's own threads (driver, JIT, GC) free cores on a 4-core machine
CPUS = min(os.cpu_count() or 1, 2)
HEAP = "2g"
# C1 only: C2 keeps recompiling for minutes, so the ops of a run would keep
# getting faster (~30% over 100 s) and a figure would depend on where in the
# warm-up it was taken; with C1 the ops are flat after the cold ones
JIT = ["-XX:TieredStopAtLevel=1", f"-XX:ActiveProcessorCount={CPUS}"]
# data sizes: one E→T→L op on an sf 0.01 batch takes ~10 s warm and ~20 s
# cold; sf 0.1 took ~20 s warm at local[4] and cannot fit a run
ETL_SF = 0.01
QUERY_SF = 0.1
QUERY_SAMPLE = 12
ETL_MIN_OPS = 1
# a run must end within 180 s; the first run in a checkout also builds
TIME_LIMIT_S = 170
BUILD_LIMIT_S = 700
WORKLOADS = ("etl_fresh", "query_mix")
LAYERS = ("extract", "transform", "load", "query")
COUNTERS = ("wall_s", "driver_s", "jobs", "tasks", "task_s", "cpu_s",
            "read_bytes", "write_bytes", "rows_written", "shuffle_bytes",
            "spill_bytes", "failed_tasks")
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found (set SPARK_HOME)")
    return home


def build(root):
    """Compiles the program's main sources with the benchmark's driver unless
    the compiled classes match the current sources; returns the classpath."""
    src_dirs = [os.path.join(root, "src", "main", "scala"),
                os.path.join(BENCH, "src")]
    if not os.path.isdir(src_dirs[0]):
        fail("program sources (src/main/scala) not found; run from the "
             "repository root")
    digest = hashlib.sha256()
    for d in src_dirs:
        for dirpath, dirnames, files in sorted(os.walk(d)):
            dirnames.sort()
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                digest.update(p[len(root):].encode())
                with open(p, "rb") as fh:
                    digest.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            digest.update(fh.read())
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    want = digest.hexdigest()
    have = open(stamp).read() if os.path.exists(stamp) else ""
    if have != want or not os.path.isdir(classes):
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             f"-Dsbt.global.base={os.path.join(BENCH, '.sbt')}",
             "-Dsbt.server.autostart=false",
             "Compile / compile", "Compile / copyResources"],
            cwd=BENCH, env=dict(os.environ, SPARK_HOME=spark_home()),
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
            timeout=BUILD_LIMIT_S)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-4000:])
            fail("build failed")
        with open(stamp, "w") as fh:
            fh.write(want)
    return f"{classes}{os.pathsep}{os.path.join(spark_home(), 'jars', '*')}"


def etl_expected(input_dir):
    """Gold and target row counts computed by DuckDB over the batch input:
    one `logements` row per batch order with a customer, one `adresses` row
    per customer with a batch order, one `tests_statistiques` row per
    order priority. The loader keeps one row per key, so the target of a
    fresh load holds the same counts."""
    con = duckdb.connect()
    try:
        adresses, logements, labels = con.sql(f"""
            SELECT count(DISTINCT c_custkey), count(*),
                   count(DISTINCT o_orderpriority)
            FROM read_parquet('{input_dir}/orders.parquet') o
            JOIN read_parquet('{input_dir}/customer.parquet') c
              ON o.o_custkey = c.c_custkey""").fetchone()
    finally:
        con.close()
    counts = {"adresses": adresses, "logements": logements,
              "tests_statistiques": labels}
    return {"gold": counts, "target": counts}


def query_sample():
    """The query_mix sample: the median query of each of QUERY_SAMPLE equal
    strata of the pool, which is ranked by measured cost, so the sample's
    cost profile is the pool's. Every pass runs it in this order. The seed
    draws the tables only: a seed-drawn sample of this size moves the
    metrics by ~10% by its make-up alone, and a seed-drawn order moves them
    too (a query's time correlates with its place in the pass, |r| up to
    0.9)."""
    with open(os.path.join(BENCH, "query_pool.txt")) as fh:
        pool = [ln.split()[0] for ln in fh
                if ln.strip() and not ln.startswith("#")]
    return [pool[(2 * i + 1) * len(pool) // (2 * QUERY_SAMPLE)]
            for i in range(QUERY_SAMPLE)]


def same_result(got, exp):
    """The oracle compare: columns by name, rows sorted, exact values, NULL
    equal to NULL. Returns "" when equal, else the first difference."""
    got, exp = got[sorted(got.columns)], exp[sorted(exp.columns)]
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    cols = list(got.columns)
    got = got.sort_values(cols, kind="mergesort").reset_index(drop=True)
    exp = exp.sort_values(cols, kind="mergesort").reset_index(drop=True)
    for c in cols:
        a, b = got[c], exp[c]
        try:
            neq = ~((a == b) | (a.isna() & b.isna()))
        except Exception:
            neq = a.astype(str) != b.astype(str)
        if neq.any():
            i = int(neq.idxmax())
            return f"column {c} row {i}: {a[i]!r} != {b[i]!r}"
    return ""


def oracle_check(out, input_dir, work):
    """Runs each sampled query's DuckDB oracle over the generated tables and
    compares it with the rows the query's cold run returned."""
    con = duckdb.connect()
    try:
        con.sql(f"SET threads={CPUS}")
        con.sql(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
        for t in gen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{input_dir}/{t}.parquet')")
        errors = {}
        for q, sql in sorted(out["oracles"].items()):
            path = os.path.join(out["verify_dir"], q)
            if not os.path.isdir(path):
                errors[q] = "no result"
                continue
            got = pd.read_parquet(path)
            err = same_result(got, con.sql(sql).df())
            if err:
                errors[q] = err
    finally:
        con.close()
    return errors


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(out, warm, cold, setup_s):
    walls = [o["wallS"] for o in warm]
    return {
        "op_p50_s": (median(walls), "s"),
        "ops_per_s": (len(walls) / sum(walls) if walls else 0.0, "1/s"),
        "first_op_s": (median([o["wallS"] for o in cold]), "s"),
        "setup_s": (setup_s, "s"),
        "live_heap_mb": (out["heap_max_bytes"] / 2 ** 20, "MB"),
    }


def per_layer(ops, warm, input_bytes):
    traced = [o for o in warm if o["traced"]]
    plain = [o["wallS"] for o in warm if not o["traced"]]
    m = {}
    for layer in LAYERS:
        rows = []
        for o in traced:
            parts = [v for k, v in o["layers"].items()
                     if k == layer or k.startswith(layer + ".")]
            if parts:
                rows.append({c: sum(p.get(c, 0.0) for p in parts)
                             for c in COUNTERS + ("plan_s", "write_exec_s",
                                                  "other_exec_s")})
        for c in COUNTERS:
            m[f"{layer}.{c}"] = median([r[c] for r in rows])
        m[f"{layer}.core_util"] = median(
            [r["task_s"] / (r["wall_s"] * CPUS) for r in rows if r["wall_s"]])
        if layer == "transform":
            m["transform.write_s"] = median([r["write_exec_s"] for r in rows])
            m["transform.aux_s"] = median([r["other_exec_s"] for r in rows])
        if layer == "query":
            m["query.plan_s"] = median([r["plan_s"] for r in rows])
    build = [o["layers"]["query.build"] for o in traced if "query.build" in o["layers"]]
    execs = [o["layers"]["query.exec"] for o in traced if "query.exec" in o["layers"]]
    m["query.build_s"] = median([b["wall_s"] for b in build])
    m["query.build_jobs"] = median([b.get("jobs", 0.0) for b in build])
    m["query.exec_s"] = median([e["wall_s"] for e in execs])
    extra = [o["extra"] for o in traced if o["extra"]]
    m["extract.scan_ratio"] = (m["extract.read_bytes"] / input_bytes
                               if input_bytes and m["extract.wall_s"] else 0.0)
    silver = median([e.get("silver_bytes", 0.0) for e in extra])
    m["transform.scan_ratio"] = m["transform.read_bytes"] / silver if silver else 0.0
    m["load.append_ratio"] = median(
        [e["appended_rows"] / e["gold_rows"] for e in extra
         if e.get("gold_rows")])
    m["write_amp"] = median(
        [(e.get("zone_bytes", 0.0) + e.get("target_bytes", 0.0)) / input_bytes
         for e in extra if "zone_bytes" in e]) if input_bytes else 0.0
    m["op.self_s"] = median(
        [o["wallS"] - sum(v["wall_s"] for v in o["layers"].values())
         for o in traced])
    walls = sorted(o["wallS"] for o in warm)
    m["op_p90_s"] = (statistics.quantiles(walls, n=10, method="inclusive")[-1]
                     if len(walls) >= 2 else median(walls))
    m["n_ops"] = float(len(warm))
    m["error_rate"] = sum(not o["ok"] for o in ops) / len(ops) if ops else 0.0
    m["trace.overhead_s"] = (median([o["wallS"] for o in traced]) - median(plain)
                             if traced and plain else 0.0)
    return m


def units(name):
    if name in ("n_ops",) or name.endswith((".jobs", ".tasks", ".failed_tasks",
                                            ".build_jobs", ".rows_written")):
        return "count"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_ratio", "core_util", "write_amp", "error_rate")):
        return "ratio"
    return "s"


def run(args, root):
    classpath = build(root)
    deadline = time.monotonic() + TIME_LIMIT_S
    os.makedirs(os.path.join(BENCH, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(BENCH, ".work"))
    try:
        t0 = time.perf_counter()
        input_dir = os.path.join(work, "input")
        cfg = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace, "cpus": CPUS,
               "work": work, "input": input_dir, "expected": {},
               "out": os.path.join(work, "out.json")}
        if args.workload == "query_mix":
            rows = gen.write_tables(args.seed, QUERY_SF, input_dir)
            cfg["queries"] = query_sample()
            cfg["min_ops"] = cfg["pass_ops"] = QUERY_SAMPLE
        else:
            rows = gen.write_batch(args.seed, ETL_SF, input_dir)
            cfg["expected"] = etl_expected(input_dir)
            # trace.overhead_s needs a traced and an untraced warm op
            cfg["min_ops"] = 2 if args.trace else ETL_MIN_OPS
            cfg["pass_ops"] = 1
        input_bytes = sum(os.path.getsize(os.path.join(input_dir, f))
                          for f in os.listdir(input_dir))
        gen_s = time.perf_counter() - t0
        with open(os.path.join(work, "config.json"), "w") as fh:
            json.dump(cfg, fh)
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java"] + [a for p in OPENS for a in
                           ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
               [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"] + JIT + [
                "-cp", classpath,
                "perfbench.Main", os.path.join(work, "config.json")])
        log_path = os.path.join(work, "jvm.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log,
                                    stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(deadline - time.monotonic(), 1))
            except subprocess.TimeoutExpired:
                fail("the benchmark JVM did not finish in time")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0:
            with open(log_path) as fh:
                sys.stderr.write(fh.read()[-4000:])
            fail(f"the benchmark JVM exited with {rc}")
        with open(cfg["out"]) as fh:
            out = json.load(fh)
        ops = out["ops"]
        errors = {}
        if args.workload == "query_mix":
            errors = oracle_check(out, input_dir, work)
        # a query whose verified result disagrees with its oracle fails in
        # every op
        for o in ops:
            if o["name"] in errors:
                o["ok"] = False
                o["error"] = o["error"] or f"oracle mismatch: {errors[o['name']]}"
        for o in ops:
            if not o["ok"]:
                errors.setdefault(o["name"], o["error"])
        warm = [o for o in ops if not o["cold"]]
        cold = [o for o in ops if o["cold"]]
        if args.trace:
            metrics = per_layer(ops, warm, input_bytes)
            metrics = {k: (v, units(k)) for k, v in metrics.items()}
            write_spans(out, args)
        else:
            metrics = end_to_end(out, warm, cold, gen_s + out["setup_s"])
        failed = sum(not o["ok"] for o in ops)
        for name, err in sorted(errors.items()):
            print(f"perfbench: check failed: {name}: {err}", file=sys.stderr)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "input_rows": rows, "n_ops": len(warm),
                          "op_s": [round(o["wallS"], 3) for o in ops],
                          "sample": sorted({o["name"] for o in cold}),
                          "spark": out["spark_version"],
                          "java": out["java_version"], "cpus": CPUS,
                          "heap_limit_mb": out["heap_limit_bytes"] / 2 ** 20}),
              file=sys.stderr)
        return {"correct": failed == 0 and not errors,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u}
                            for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(work, ignore_errors=True)


def write_spans(out, args):
    """Writes the traced run's spans, one JSON object per line."""
    d = os.path.join(BENCH, ".out")
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, f"spans-{args.workload}-{args.seed}.jsonl"), "w") as fh:
        for s in out["spans"]:
            fh.write(json.dumps(s) + "\n")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a SIGTERM unwinds like an error, so the JVM is killed and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result = run(args, os.getcwd())
    print(json.dumps(result))


if __name__ == "__main__":
    main()
