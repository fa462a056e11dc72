#!/usr/bin/env python3
"""Benchmark of the engine: one closed-loop client per workload, in a fresh
JVM with ``local[<cores>]``, every result timed to completion.

    python3 perfbench/run.py --workload listing_etl|query_suite \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run compiles ``src/main/scala`` and
``perfbench/scala`` with the Scala compiler shipped in Spark's jar directory
(``$SPARK_HOME/jars``, else the one build.sbt names) into ``.bench_build/``;
later runs reuse the build while the sources are unchanged. Each run builds
its inputs from the seed under ``.bench_build/runs/`` and deletes them at
exit. The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The exit code is 0 only when every check passed.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
import warnings

import gen

DEADLINE_S = 170  # a run must end within 180 s; the build is not counted
BENCH = os.path.dirname(os.path.abspath(__file__))

# Input sizes per workload: fixed, so runs differ only by what the seed draws.
# A listing_etl day is one region-run of `pages` pages per region (six, in
# gen.REGIONS); listing_etl also writes the documents its traced run ingests.
WORKLOADS = {
    "listing_etl": {"days": 4, "pages": 20, "cards": 20, "docs": 500, "quota": 23},
    "query_suite": {"sf": 0.02},
}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars(root):
    """Spark's jar directory: ``$SPARK_HOME/jars``, else the ``unmanagedBase``
    directory that build.sbt compiles the program against."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        try:
            with open(os.path.join(root, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        except OSError:
            m = None
        if not m:
            die("set SPARK_HOME: build.sbt names no Spark jar directory")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die(f"no Scala compiler in {jars}; set SPARK_HOME")
    return jars


def sources(root):
    prog = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(BENCH, "scala/*.scala")))
    if not prog:
        die("no program sources under src/main/scala: run from the repository root")
    return prog, bench


def build(root, jars):
    """Compile program then benchmark into .bench_build/perfbench/<hash>."""
    prog, bench = sources(root)
    h = hashlib.sha256()
    for f in prog + bench:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", "perfbench", h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, files, cp in (("classes", prog, None), ("bench", bench, os.path.join(tmp, "classes"))):
        os.makedirs(os.path.join(tmp, name))
        cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", os.path.join(tmp, name)]
        if cp:
            cmd += ["-cp", cp]
        r = subprocess.run(cmd + files, capture_output=True, text=True, timeout=800)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            die(f"compiling {name} failed:\n{r.stdout[-4000:]}{r.stderr[-4000:]}")
    open(os.path.join(tmp, "ok"), "w").close()
    os.replace(tmp, out)
    return out


def make_inputs(workload, seed, data):
    sizes = WORKLOADS[workload]
    if workload == "listing_etl":
        gen.ingest(os.path.join(data, "ingest"), seed, sizes["docs"])
        return gen.pages(data, seed, sizes["days"], sizes["pages"], sizes["cards"])
    return gen.tables(data, seed, sizes["sf"])


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(build_dir, jars, args, run_dir, timeout):
    cp = os.pathsep.join([os.path.join(build_dir, "bench"), os.path.join(build_dir, "classes"),
                          os.path.join(jars, "*")])
    props = {
        "java.io.tmpdir": "tmp", "spark.sql.warehouse.dir": "warehouse",
        "spark.local.dir": "spark-local", "derby.system.home": "derby",
        "derby.stream.error.file": "derby.log",
    }
    for d in ("tmp", "spark-local", "derby"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    cmd = (["java", "-Xms2g", "-Xmx2g", "-Xss8m"] + ADD_OPENS +
           [f"-D{k}={os.path.join(run_dir, v)}" for k, v in props.items()] +
           ["-cp", cp, "perfbench.Main"] + [str(a) for a in args])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"the JVM run did not finish within {timeout:.0f} s", 3)
    with open(os.path.join(run_dir, "jvm.log")) as f:
        for line in f:
            if line.startswith("[perfbench]"):
                print(line.rstrip(), file=sys.stderr)
    path = os.path.join(run_dir, "result.json")
    if not os.path.exists(path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-4000:]
        die(f"the JVM exited with code {p.returncode} and no result:\n{tail}", 3)
    with open(path) as f:
        return json.load(f)


def oracle_compare(root, data, results):
    """Compare every query result with DuckDB running its oracle SQL over the
    same input tables, with ``tools/check_oracle.py``. Returns the number
    compared and the failures: the tool's mismatches, and empty results."""
    sys.path.insert(0, os.path.join(root, "tools"))
    import check_oracle  # needs duckdb, which only this workload uses
    report = io.StringIO()
    with contextlib.redirect_stdout(report), warnings.catch_warnings():
        warnings.simplefilter("ignore", FutureWarning)  # the tool's pandas applymap
        rc = check_oracle.main(data, results)
    lines = report.getvalue().splitlines()
    bad = [ln.strip() for ln in lines if ln.split()[:1] in (["MISS"], ["ERR"], ["COLS"], ["ROWS"], ["HASH"])]
    bad += [f"{ln.split()[1]}: empty result" for ln in lines if re.match(r"OK\s+\S+ \(0 rows\)", ln)]
    if rc and not bad:
        bad.append(f"tools/check_oracle.py exited {rc}")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        return len(json.load(f)), bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found: run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    jars = spark_jars(root)
    build_dir = build(root, jars)
    started = time.monotonic()

    run_dir = os.path.join(root, ".bench_build", "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        info = make_inputs(a.workload, a.seed, data)
        args = ["--workload", a.workload, "--seed", a.seed, "--seconds", a.seconds,
                "--trace", a.trace, "--run-dir", run_dir, "--data-dir", data, "--cpus", cores()]
        for k, v in WORKLOADS[a.workload].items():
            args += [f"--{k}", v]
        res = run_jvm(build_dir, jars, args, run_dir, DEADLINE_S - (time.monotonic() - started))
        attempted, failures = res["attempted"], list(res["failures"])
        if a.workload == "query_suite":
            n, bad = oracle_compare(root, data, os.path.join(run_dir, "results"))
            attempted += n
            failures += [f"oracle {b}" for b in bad]
        if a.trace:
            traces = os.path.join(root, ".bench_build", "traces")
            os.makedirs(traces, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None and not a.trace:
            failures.append(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(v or 0.0), "unit": m["unit"]}
    for msg in failures:
        print(f"FAILED {msg}", file=sys.stderr)
    print(f"perfbench: {a.workload} seed {a.seed} inputs {json.dumps(info)}", file=sys.stderr)
    out = {"correct": not failures, "attempted": max(int(attempted), len(failures), 1),
           "failed": len(failures),
           "metrics": metrics}
    print(json.dumps(out))
    sys.exit(0 if not failures else 1)


if __name__ == "__main__":
    main()
