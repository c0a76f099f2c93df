#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one line of metrics.

    python3 perfbench/run.py --workload {serve,maintain} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout. It compiles graft and the
benchmark's Scala code from source into .bench_build/ (once per source state),
generates the workload's inputs from the seed into a fresh working
directory under .bench_work/, runs the workload in one JVM, checks the
results (DuckDB oracle for every distinct query the run executed; the
batch feed face for every maintenance family), and prints one JSON object
as the last line of stdout. With --trace 0 it carries the end-to-end
metrics, with --trace 1 the per-layer ones. perfbench/spec.json holds the
workload sizes, tail percentiles and launch settings.

Exit code 0 only when every operation succeeded and every check passed.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

SPEC = json.load(open(os.path.join(HERE, "spec.json")))
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jar directory; it also holds the Scala compiler."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    d = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(d, "*.jar")):
        fail("no Spark jars found: set SPARK_HOME")
    return d


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no graft sources under src/main/scala: run from a source checkout")
    return main + sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))


def build():
    """Compile graft and the benchmark's Scala code with the compiler that ships in
    Spark's jars; skipped when the sources are unchanged."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, f"classes.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(spark_jars(), "*")
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes


def make_inputs(workload, seed, work):
    """Generate the workload's inputs from the seed; returns the corpus
    directory (relative to `work`) and the seconds generation took."""
    w = SPEC["workloads"][workload]
    t0 = time.perf_counter()
    gen.write_corpus(os.path.join(work, "in/corpus"), seed, w["docs"], w["vecs"])
    if workload == "serve":
        gen.write_requests(os.path.join(work, "in/requests.json"), seed,
                           SPEC["serve_mix"], w["requests"])
    if workload == "maintain":
        meta = gen.write_feeds(os.path.join(work, "in/feed"), seed, w["docs"], w["vecs"],
                               w["batches"], w["doc_batch"], w["vec_batch"],
                               w["feed"]["mix"], w["feed"]["crawl_window"])
        with open(os.path.join(work, "in/feed/meta.json"), "w") as f:
            json.dump(meta, f)
    return "in/corpus", time.perf_counter() - t0


def run_jvm(classes, work, args):
    cp = os.pathsep.join([classes, os.path.join(spark_jars(), "*")])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", f"-Xmx{SPEC['launch']['heap']}", "-Xss8m",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + opens + ["-cp", cp, "graft.perfbench.Main"]
           + [f"{k}={v}" for k, v in args.items()])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -1
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-4000:]
        sys.stderr.write(tail)
        fail(f"benchmark JVM exited with {rc}")


def norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(v)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def oracle_check(work, out):
    """Compare each dumped query result with its DuckDB oracle over the
    generated inputs: schema, row count, then values row by row (the
    comparison of scripts/check_local.py). Returns the failing names."""
    import duckdb
    corpus = open(os.path.join(out, "corpus.txt")).read().strip()
    con = duckdb.connect()
    con.sql("PRAGMA threads=2")
    for t in ("documents", "embeddings"):
        p = os.path.join(work, corpus, f"{t}.parquet")
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    oracles = json.load(open(os.path.join(out, "oracle_sql.json")))
    bad = []
    for d in sorted(glob.glob(os.path.join(out, "check", "*"))):
        name = os.path.basename(d)
        srel = con.sql(f"SELECT * FROM '{d}/*.parquet'")
        scols = sorted(srel.columns)
        sidx = [srel.columns.index(c) for c in scols]
        srows = [tuple(norm(r[i]) for i in sidx) for r in srel.fetchall()]
        if name not in oracles:
            if not srows:
                bad.append(name)
            print(f"[perfbench] rows-only {name}: {len(srows)} rows", file=sys.stderr)
            continue
        orel = con.sql(oracles[name])
        ocols = sorted(orel.columns)
        oidx = [orel.columns.index(c) for c in ocols]
        orows = [tuple(norm(r[i]) for i in oidx) for r in orel.fetchall()]
        ok = scols == ocols and srows == orows
        print(f"[perfbench] oracle {name}: {len(srows)} rows "
              f"{'match' if ok else 'DIFFER'}", file=sys.stderr)
        if not ok:
            bad.append(name)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build()
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus, gen_s = make_inputs(a.workload, a.seed, work)
        out = os.path.join(work, "out")
        args = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
                "corpus": corpus, "gen_s": f"{gen_s:.6f}",
                "tail": SPEC["workloads"][a.workload]["tail_percentile"],
                "out": "out", "requests": "in/requests.json", "feed": "in/feed"}
        run_jvm(classes, work, args)
        r = json.load(open(os.path.join(out, "result.json")))
        bad = [] if a.workload == "maintain" else oracle_check(work, out)
        checks = len(glob.glob(os.path.join(out, "check", "*"))) or 2
        failed = int(r["failed"]) + int(r.get("traced_failed", 0)) + len(bad) \
            + int(r.get("maintain.mismatches", 0)) + int(r.get("kernels.mismatches", 0))
        attempted = int(r["attempted"]) + int(r.get("traced_attempted", 0)) + checks
        report = summarize(a, r, attempted, failed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report))
    sys.exit(0 if report["correct"] else 1)


def summarize(a, r, attempted, failed):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    info = {
        "workload": a.workload, "seed": a.seed,
        "samples": len(r["lat_ms"]),
        "tail_percentile": SPEC["workloads"][a.workload]["tail_percentile"],
        "error_rate": failed / attempted,
        "phase_s": {k: r[k] for k in ("boot_s", "setup_s", "loop_s", "kernels_s", "gate_s")
                    if k in r},
    }
    for k in ("maintain.batches", "streaming.write_amp", "streaming.space_amp"):
        if k in r:
            info[k] = r[k]
    if a.trace:
        info["largest_self_layer"] = max(
            (k for k in r if k.startswith("self_share.")), key=lambda k: r[k])[len("self_share."):]
        for k in ("throughput", "lat_p50_ms", "lat_tail_ms"):
            info["traced_" + k] = r["traced_" + k]
    print("[perfbench] " + json.dumps(info))
    metrics = bench["per_layer"] if a.trace else bench["end_to_end"]
    missing = [m["name"] for m in metrics if r.get(m["name"]) is None]
    if missing:
        fail(f"result lacks {missing}")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {m["name"]: {"value": r[m["name"]], "unit": m["unit"]}
                        for m in metrics}}


if __name__ == "__main__":
    main()
