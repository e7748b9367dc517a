#!/usr/bin/env python3
"""Benchmark command for the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program's main sources
together with the benchmark driver (perfbench/build.sbt, outputs under
.bench_build/), generates the inputs from the seed, runs one workload in
one JVM on local[4], checks the results, and prints one JSON object as
the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. A diagnostic JSON line before it
carries the sample count of every metric, the error rate and the seed.
perfbench/README.md describes the workloads and metrics.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("batch_mix", "denorm_live")
SF = 0.01  # scale of the generated tables the closed-loop workloads read
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 600

# Spark 4 on JDK 17 outside spark-submit needs these (the program's
# build.sbt passes the same list to its forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


T0 = time.time()


def log(msg):
    print(f"[perfbench {time.time() - T0:.1f}s] {msg}", file=sys.stderr)


def fail(msg):
    """Stop without a result line."""
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state; return the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    hash_file = os.path.join(BUILD, "source.sha256")
    digest = source_hash()
    if os.path.exists(cp_file) and os.path.exists(hash_file):
        with open(hash_file) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as c:
                    return c.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "export Runtime/fullClasspath"]
    try:
        p = subprocess.run(cmd, cwd=HERE, env=env, capture_output=True, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".bench_build" not in lines[-1]:
        sys.stderr.write("\n".join(l for l in lines if "[error]" in l)[-6000:] + p.stderr[-2000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(hash_file, "w") as fh:
        fh.write(digest)
    return cp


def run_jvm(cp, args, work):
    out, data, tmp = (os.path.join(work, d) for d in ("out", "data", "tmp"))
    for d in (out, tmp):
        os.makedirs(d, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--data", data, "--out", out])
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                         text=True, start_new_session=True)
    try:
        stdout, stderr = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, 9)
        p.communicate()
        fail(f"{args.workload} did not finish within {JVM_TIMEOUT_S} s")
    sys.stderr.write("".join(l + "\n" for l in stderr.splitlines() if l.startswith("[perfbench")))
    if p.returncode != 0:
        sys.stderr.write(stderr[-6000:])
        fail(f"{args.workload} failed (exit {p.returncode})")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


# ---- oracle check: the cell rules of tools/verify_local.py ----

def _canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), na_position="last").reset_index(drop=True)


def _cells_equal(a, b):
    def null(x):
        return x is None or (isinstance(x, float) and math.isnan(x))
    if null(a) and null(b):
        return True
    if isinstance(a, float) and isinstance(b, float):
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    return str(a) == str(b)


def check_oracles(data, out):
    """Compare each dumped query result with its DuckDB oracle.
    Returns (queries checked, list of mismatch messages)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    for f in glob.glob(os.path.join(data, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(f)[:-8]} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(out, "oracle.json")) as fh:
        oracles = json.load(fh)
    bad = []
    for name, sql in sorted(oracles.items()):
        files = glob.glob(os.path.join(out, "dump", name, "*.parquet"))
        if sql is None:
            bad.append(f"{name}: no oracle")
            continue
        if not files:
            bad.append(f"{name}: no result")
            continue
        try:
            want = _canon(con.execute(sql).df())
        except Exception as e:  # an oracle that cannot run is a mismatch
            bad.append(f"{name}: oracle error {e}")
            continue
        got = _canon(pd.concat([pd.read_parquet(f) for f in files]))
        if list(want.columns) != list(got.columns):
            bad.append(f"{name}: columns {list(got.columns)} != {list(want.columns)}")
        elif len(want) != len(got):
            bad.append(f"{name}: {len(got)} rows != {len(want)}")
        else:
            for c in want.columns:
                pair = next(((i, a, b) for i, (a, b) in enumerate(zip(want[c].tolist(), got[c].tolist()))
                             if not _cells_equal(a, b)), None)
                if pair:
                    bad.append(f"{name}: col {c} row {pair[0]}: {pair[2]!r} != {pair[1]!r}")
                    break
    return len(oracles), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        fail(f"no program sources under {ROOT}/src/main/scala")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)[("per_layer" if args.trace else "end_to_end")]

    cp = build()
    log("build ready")
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        sys.path.insert(0, HERE)
        import gen
        gen.generate(os.path.join(work, "data"), args.seed, SF)
        log("inputs generated")
        res = run_jvm(cp, args, work)
        log("workload done")
        attempted, failed = res["attempted"], res["failed"]
        errors = list(res["errors"])
        if args.workload != "denorm_live":
            checked, bad = check_oracles(os.path.join(work, "data"), os.path.join(work, "out"))
            attempted += checked
            failed += len(bad)
            errors += bad
            log(f"{checked} results checked against their oracles")
        if args.trace:
            spans = os.path.join(BUILD, "trace", f"{args.workload}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            shutil.copy(os.path.join(work, "out", "spans.jsonl"), spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = res["layers"] if args.trace else res["metrics"]
    metrics = {}
    for m in spec:
        v = values.get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            failed += 1
            errors.append(f"metric {m['name']} was not measured")
            v = None
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "samples": res["samples"], "error_rate": failed / max(1, attempted),
        "info": res["info"], "errors": errors}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
