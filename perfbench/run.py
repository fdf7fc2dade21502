#!/usr/bin/env python3
"""graft's workload benchmark: batch serving, point search under ingest,
and curation, each a closed loop of one client in one Spark JVM at
local[<cores>].

    python3 perfbench/run.py --workload serve_batch --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run compiles the
library (src/main) and the benchmark driver (perfbench/scala) with the
Scala compiler that ships in Spark's jars, into .bench_build/; later runs
of the same sources reuse it. Inputs are generated from --seed into a
fresh directory under .bench_work/, which is removed at the end.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics -- the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1 (both lists live in BENCHMARK.json). Lines above
it give the same numbers for reading, plus the noise record (CPU steal
and GC seconds). The exit code is non-zero when a run fails or any
output check fails. See perfbench/README.md for the design.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import inputs  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
# the driver JVM may use this much of a run's 180 s; the rest is for
# the input generation before it and the oracle check after it
DEADLINE_S = 165
JVM_HEAP = "3g"

# Input sizes per workload: a base corpus of `docs` documents, replicated
# `replicas` times; curate's traced run also runs an ingest cycle over a
# corpus of `ingest_docs`.
SIZES = {
    "serve_batch": {"docs": 2000, "replicas": 1, "batches": 40, "batch_size": 64},
    "ingest_point": {"docs": 3500, "replicas": 2, "points": 400},
    "curate": {"docs": 1500, "replicas": 1, "ingest_docs": 1750, "points": 16},
}

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
    sys.exit(2)


def spark_jars():
    """The jars of the Spark distribution the library is built against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(os.path.dirname(os.path.realpath(submit)), "..", "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and \
                glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return os.path.realpath(c)
    fail("no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def build(jars):
    """Compile src/main and the driver once per source state."""
    lib = os.path.join(ROOT, "src", "main", "scala")
    sources = sorted(glob.glob(os.path.join(lib, "**", "*.scala"), recursive=True))
    if not sources:
        fail(f"no library sources under {os.path.relpath(lib, ROOT)}")
    sources += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    resources = sorted(p for p in glob.glob(os.path.join(res_dir, "**", "*"), recursive=True)
                       if os.path.isfile(p))
    h = hashlib.sha256()
    for p in sources + resources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
                        "@" + argfile], stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    os.remove(argfile)
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, out)
    print(f"built {os.path.relpath(out, ROOT)} in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def make_inputs(workload, seed, into):
    """Write the workload's seeded inputs; the program sees only these."""
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    size = SIZES[workload]
    docs = inputs.replicated(inputs.base_corpus(rng, size["docs"]), size["replicas"])
    os.makedirs(into)
    if workload == "serve_batch":
        inputs.write_documents(docs, os.path.join(into, "docs.parquet"))
        inputs.write_batch_queries(rng, size["batches"], size["batch_size"],
                                   size["replicas"], os.path.join(into, "queries.parquet"))
        return
    if workload == "curate":
        # raw documents, as graft's ingest front door reads them
        inputs.write_jsonl(docs, os.path.join(into, "docs.jsonl"))
        docs = inputs.base_corpus(rng, size["ingest_docs"])
    # the ingest corpus carries each document's ingest position: the
    # first 40% are indexed at set-up, the rest arrive in seq order
    order = rng.permutation(len(docs))
    inputs.write_documents([docs[i] for i in order], os.path.join(into, "ingest_docs.parquet"),
                           seq=True)
    inputs.write_point_queries(rng, size["points"], os.path.join(into, "points.parquet"))


def oracle_check(out):
    """curate's outputs against the DuckDB mirrors in graft.OracleSql,
    compared as tools/check.py does: columns by name, rows sorted,
    values exact."""
    import duckdb
    import pandas as pd
    spec = json.load(open(os.path.join(out, "oracle_sql.json")))
    tables = spec.pop("tables")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tables}/documents.parquet/*/*.parquet', hive_partitioning = true)")
    results = {}
    for name, sql in spec.items():
        exp = con.sql(sql).df()
        got = pd.read_parquet(os.path.join(out, name))
        ok = sorted(exp.columns) == sorted(got.columns) and len(exp) == len(got)
        if ok:
            cols = sorted(exp.columns)
            exp = exp[cols].sort_values(cols).reset_index(drop=True)
            got = got[cols].sort_values(cols).reset_index(drop=True)
            for c in cols:
                e, g = exp[c], got[c]
                if e.dtype.kind == "f" or g.dtype.kind == "f":
                    ef, gf = e.astype(float).to_numpy(), g.astype(float).to_numpy()
                    same = (ef == gf) | (np.isnan(ef) & np.isnan(gf))
                else:
                    same = e.astype(object).to_numpy() == g.astype(object).to_numpy()
                ok = ok and bool(same.all())
        results[f"oracle_{name}"] = ok
    return results


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(SIZES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()
    # a SIGTERM unwinds like an exception, so the JVM and the run's
    # directory are cleaned up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    stamp = lambda what: print(f"[perfbench {time.time() - started:7.1f} s] {what}", file=sys.stderr)

    bench_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_path):
        fail("BENCHMARK.json not found at the checkout root")
    bench = json.load(open(bench_path))
    jars = spark_jars()
    classes = build(jars)
    # the time limit leaves out the build, which only a first run pays
    built = time.time()

    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    try:
        make_inputs(args.workload, args.seed, os.path.join(work, "in"))
        stamp("inputs written")
        os.makedirs(os.path.join(work, "tmp"))
        cores = len(os.sched_getaffinity(0))
        cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
                  "graftbench.PerfBench", args.workload, work, str(args.seconds),
                  str(args.trace), str(cores)])
        log_path = os.path.join(work, "jvm.log")
        stamp("driver JVM started")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                code = proc.wait(timeout=max(10, DEADLINE_S - (time.time() - built)))
            except subprocess.TimeoutExpired:
                code = None
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        with open(log_path) as log:
            sys.stderr.writelines(l for l in log if l.startswith("[perfbench"))
        result_path = os.path.join(work, "out", "result.json")
        if code != 0 or not os.path.exists(result_path):
            sys.stderr.write(open(log_path).read()[-6000:])
            fail(f"driver JVM {'timed out' if code is None else f'exited with {code}'}")
        stamp("driver JVM exited")
        res = json.load(open(result_path))
        checks = res["checks"]
        if args.workload == "curate":
            oracle = oracle_check(os.path.join(work, "out"))
            stamp("oracle check done")
            checks.update(oracle)
            res["attempted"] += len(oracle)
            res["failed"] += sum(not ok for ok in oracle.values())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    source = res["layers"] if args.trace else res["e2e"]
    missing = [m["name"] for m in wanted if not args.trace and not source.get(m["name"])]
    if missing:
        fail(f"end-to-end metrics not measured: {missing}")
    # a layer the workload never calls reads 0
    metrics = {m["name"]: {"value": source.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    correct = all(checks.values()) and res["failed"] == 0
    for name, ok in checks.items():
        print(f"check {name}: {'ok' if ok else 'FAILED'}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']:.6g} {m['unit']}")
    print("detail " + json.dumps(res["detail"], sort_keys=True))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
