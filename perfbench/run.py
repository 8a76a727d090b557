#!/usr/bin/env python3
"""graft benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The program is compiled from `src/main`
together with `perfbench/scala` into `.bench_build/` (once per source
state), the workload's inputs are generated from the seed, one JVM runs
the workload at local[min(4, nproc)], and the last stdout line is the
result JSON. Optional: `--cores N` (the single-core baseline is
`--cores 1 --trace 1`). The last run of each workload leaves its JVM log,
raw result and, when traced, its spans in `.bench_build/last/<workload>/`.

Workloads, metrics and the metric map: perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

WORKLOADS = ("events_stream", "crawl_ingest")
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory the sbt build compiles against."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = ([m.group(1)] if m else []) + (
        [os.path.join(os.environ["SPARK_HOME"], "jars")] if "SPARK_HOME" in os.environ else [])
    for d in cands:
        if glob.glob(os.path.join(d, "scala-compiler-*.jar")):
            return d
    die("no Spark jar directory with a Scala compiler found (build.sbt unmanagedBase)")


def sources(root):
    return sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True)
                  + glob.glob(os.path.join(HERE, "scala/*.scala")))


def build(root, build_dir, jars):
    """Compile the program and the benchmark's JVM side with the Scala
    compiler the Spark distribution ships; skipped when the sources are
    unchanged."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, False
    tmp = classes + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_LIMIT_S - 60)
    if p.returncode != 0:
        sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
        die("compile failed")
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.replace(tmp, classes)
    return classes, True


def generate(workload, seed, seconds, trace, params, data):
    """The workload's inputs, plus a small warm-up input from another seed;
    a traced crawl_ingest run also gets the corpus of its catalog pass."""
    warm_seed = seed + 1_000_003
    if workload == "events_stream":
        p = params[workload]
        # rounds half up, as the JVM side's Math.round does
        per_pass = (max(3, math.floor(seconds * p["files_per_s"] + 0.5))
                    + p["backlog_files"] * p["backlog_bursts"])
        gen.gen_events(data, seed, params, per_pass * (2 if trace else 1))
        gen.gen_events(f"{data}/warm", warm_seed, params, p["warmup_files"])
    else:
        p = params[workload]
        gen.gen_crawl(data, seed, params, p["max_batches"])
        small = json.loads(json.dumps(params))
        small[workload].update(base_docs=400, bench_docs=20)
        gen.gen_crawl(f"{data}/warm", warm_seed, small, p["warmup_batches"])
        if trace:
            gen.gen_corpus(f"{data}/corpus", seed, params)


def jvm_params(workload, params):
    return ",".join(f"{k}={v}" for k, v in params[workload].items()
                    if isinstance(v, (int, float)) and not isinstance(v, bool))


def oracle_check(data):
    """Each catalog query's output against DuckDB running its
    SparkEntry.oracleSql over the generated tables: columns by name, rows in
    emitted order, values exact (the rule tools/check.py applies)."""
    import duckdb
    out = f"{data}/out"
    with open(f"{out}/oracle_sql.json") as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in glob.glob(f"{data}/corpus/*.parquet"):
        name = os.path.basename(t)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{t}'")
    fails = []
    for name, sql in sorted(oracle.items()):
        pq = glob.glob(f"{out}/{name}/*.parquet")
        if not pq:
            fails.append(f"{name}: no output")
            continue
        try:
            got = con.sql(f"SELECT * FROM '{pq[0]}'").df()
            want = con.sql(sql).df()
        except Exception as e:  # an oracle error is a failed check
            fails.append(f"{name}: oracle error {e}")
            continue
        g = got.reindex(sorted(got.columns), axis=1)
        w = want.reindex(sorted(want.columns), axis=1)
        if list(g.columns) != list(w.columns) or len(g) != len(w):
            fails.append(f"{name}: shape {list(g.columns)}x{len(g)} vs {list(w.columns)}x{len(w)}")
            continue
        for c in g.columns:
            a, b = g[c], w[c]
            try:
                eq = (a.values == b.values) | (a.isna().values & b.isna().values)
            except Exception:
                eq = a.astype(str).values == b.astype(str).values
            if not eq.all():
                i = int((~eq).argmax())
                fails.append(f"{name}: col {c} row {i}: spark={a.iloc[i]!r} oracle={b.iloc[i]!r}")
                break
    return fails


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=min(4, len(os.sched_getaffinity(0))))
    a = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src/main/scala"))):
        die("run from the repository root: build.sbt and src/main/scala are missing")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    params = gen.load_params()
    build_dir = os.path.join(root, ".bench_build")
    jars = spark_jars(root)
    classes, built = build(root, build_dir, jars)
    limit = start + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    data = os.path.join(build_dir, "runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(os.path.join(data, "tmp"))
    try:
        generate(a.workload, a.seed, a.seconds, a.trace, params, data)
        print(f"# generated inputs at {time.time() - start:.1f}s", file=sys.stderr)
        out = os.path.join(data, "result.json")
        cmd = (["java", "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={data}/tmp",
                "-Dspark.ui.enabled=false"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                  "graft.perfbench.PerfBench",
                  "--workload", a.workload,
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--data", data, "--out", out, "--cores", str(a.cores),
                  "--params", jvm_params(a.workload, params)])
        log_path = os.path.join(data, "jvm.log")
        with open(log_path, "wb") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
            try:
                proc.wait(timeout=max(10, limit - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"{a.workload} did not finish in time")
        if not os.path.exists(out):
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-4000:])
            die(f"{a.workload} produced no result (exit {proc.returncode})")
        with open(out) as f:
            res = json.load(f)
        errors = list(res["errors"])
        if os.path.exists(f"{data}/out/oracle_sql.json"):
            fails = oracle_check(data)
            errors += fails
            res["failed"] += len(fails)
        for e in errors:
            print(f"# check failed: {e}", file=sys.stderr)
        attempted, failed = max(1, res["attempted"]), res["failed"]
        # a metric the run could not measure (a workload without that layer,
        # an empty sample, an aborted run) reads 0; `failed` tells the cases apart
        if a.trace:
            values, spec = res["layers"], bench["per_layer"]
        else:
            values = dict(res["e2e"], success_rate=1.0 - failed / attempted)
            spec = bench["end_to_end"]
        metrics = {m["name"]: {"value": values.get(m["name"]) or 0.0, "unit": m["unit"]}
                   for m in spec}
        if not a.trace:
            for k, v in res["named"].items():
                print(f"# {a.workload} {k} = {v['value']:.6g} {v['unit']}")
        for kind in ("warm", "cold"):
            fam = [v for k, v in res["layers"].items()
                   if k.startswith("family.") and k.endswith(f".{kind}_s")]
            if fam:  # the catalog pass of a traced crawl_ingest run
                print(f"# {a.workload} corpus_{kind}_s = {sum(fam):.6g} s")
        print(f"# {a.workload} error_rate = {failed / attempted:.6g} failed/attempted"
              f" ({failed}/{attempted})")
        print(json.dumps({"correct": failed == 0 and not errors, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        last = os.path.join(build_dir, "last", a.workload)
        shutil.rmtree(last, ignore_errors=True)
        os.makedirs(last)
        for f in ("jvm.log", "result.json", "trace_spans.json"):
            if os.path.exists(os.path.join(data, f)):
                shutil.move(os.path.join(data, f), os.path.join(last, f))
        shutil.rmtree(data, ignore_errors=True)


if __name__ == "__main__":
    main()
