#!/usr/bin/env python3
"""Benchmark entry point: build the engine and the harness from source, run
one workload in a fresh JVM, check its outputs, print one JSON result line.

    python3 perfbench/run.py --workload {ingest,queries,stream} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Build outputs and run artifacts go under
$CARGO_TARGET_DIR (default .bench_build). With --trace 0 the result carries
the end-to-end metrics of BENCHMARK.json, with --trace 1 the per-layer ones.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest", "queries", "stream")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 880
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
JVM_FLAGS = ["-Xmx2g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false"]
# The per-layer metric groups each workload measures. A metric outside its
# workload's groups reads 0 by design; a metric inside them that the run did
# not produce fails the run.
COMMON_LAYERS = ("catalyst.", "codegen.", "exec.", "jvm.", "trace.", "failed_ratio")
LAYERS = {
    "ingest": ("sources.", "operators.", "pipeline.", "sinks.", "stream.") + COMMON_LAYERS,
    "queries": ("queries.",) + COMMON_LAYERS,
    "stream": ("stream.", "sinks.append_commit_") + COMMON_LAYERS,
}
TABLES = ["events", "documents", "embeddings", "lineitem", "orders", "customer",
          "part", "supplier", "nation", "region"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files(root):
    """Every input of the build, in a stable order."""
    out = []
    for base in ("src/main", os.path.join("perfbench", "src", "main")):
        for d, _, files in os.walk(os.path.join(root, base)):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(root, f) for f in (
        "build.sbt", "project/build.properties",
        "perfbench/build.sbt", "perfbench/project/build.properties")]
    return sorted(out)


def source_stamp(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(root, state):
    """Compile engine + harness with sbt when the sources changed; returns
    the runtime classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(state, "classpath.txt")
    stamp_file = os.path.join(state, "source.sha256")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip(), stamp
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        errors = [l for l in proc.stdout.splitlines() if l.startswith("[error]")]
        sys.stderr.write("\n".join(errors[-40:]) + "\n" + proc.stderr[-2000:])
        fail(f"build failed (exit {proc.returncode})", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.1f}s")
    return cp, stamp


def run_jvm(cp, stamp, args, state, data, out):
    # inputs, sinks and java.io.tmpdir (where q_ann_indexed keeps its index)
    # start empty in every run and belong to one build, so no run reuses
    # what an earlier run or another build left
    scratch = os.path.join(state, f"scratch-{stamp[:16]}")
    shutil.rmtree(scratch, ignore_errors=True)
    work = os.path.join(scratch, "work")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(work)
    os.makedirs(tmp)
    flags = JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}"]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + flags + ["-cp", cp, "perfbench.Main",
                      "--workload", args.workload, "--seed", str(args.seed),
                      "--seconds", str(args.seconds), "--trace", str(args.trace),
                      "--work", work, "--data", data, "--out", out])
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # Spark would prefer it over spark.local.dir
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=subprocess.PIPE, text=True,
                            env=env, start_new_session=True)
    try:
        _, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"JVM exceeded {JVM_TIMEOUT_S}s", 4)
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(err[-6000:])
        fail(f"JVM run failed (exit {proc.returncode})", 5)
    with open(out) as f:
        return json.load(f), flags, work


def canonical(df):
    """Row-order and column-order independent text form of a result."""
    cols = sorted(df.columns)
    df = df[cols].astype(str)
    return df.sort_values(by=cols).reset_index(drop=True) if cols else df


def fingerprint(df):
    """(columns, rows, content hash) of a canonical result."""
    df = canonical(df)
    return list(df.columns), len(df), hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()


def connect(data):
    import duckdb
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def oracle_compare(work, data):
    """Each written query result against DuckDB running the query's
    `oracleSql`: columns, row count and content hash must all match."""
    results = os.path.join(work, "results")
    with open(os.path.join(results, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = connect(data)
    out = {}
    for name in sorted(oracles):
        try:
            gc, gr, gh = fingerprint(con.execute(
                f"SELECT * FROM read_parquet('{results}/{name}/*.parquet')").df())
            ec, er, eh = fingerprint(con.execute(oracles[name]).df())
            out[name] = {"rows": gr, "oracle_rows": er, "hash": gh, "oracle_hash": eh,
                         "match": gc == ec and gr == er and gh == eh}
        except Exception as e:  # a result the oracle cannot check is a mismatch
            out[name] = {"match": False, "error": f"{type(e).__name__}: {e}"}
    return out


def git_commit(root):
    """HEAD of the checkout, or None when it is not a git work tree itself."""
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    spec_file = os.path.join(root, "BENCHMARK.json")
    data = os.path.join(BENCH, "data", "sf0.01")
    for need in (spec_file, os.path.join(root, "build.sbt"), os.path.join(root, "src", "main"),
                 os.path.join(data, "lineitem.parquet")):
        if not os.path.exists(need):
            fail(f"not a checkout of the engine: {os.path.relpath(need, root)} is missing")
    with open(spec_file) as f:
        spec = json.load(f)
    state = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                         "perfbench")
    os.makedirs(os.path.join(state, "runs"), exist_ok=True)

    cp, stamp = build(root, state)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(state, "runs", f"{tag}.jvm.json")
    t0 = time.time()
    art, flags, work = run_jvm(cp, stamp, args, state, data, out)
    log(f"JVM run took {time.time() - t0:.1f}s")

    checks = art["checks"]
    failed = int(art["failed"])
    if args.workload == "queries":
        t0 = time.time()
        oracle = oracle_compare(work, data)
        log(f"oracle compare took {time.time() - t0:.1f}s")
        art["oracle"] = oracle
        # a query whose set-up run failed is already counted as failed
        crashed = {c["name"] for c in checks if not c["ok"]}
        for name, r in oracle.items():
            checks.append({"name": f"oracle.{name}", "ok": r["match"],
                           "detail": "" if r["match"] else json.dumps(r)})
            if not r["match"]:
                log(f"oracle mismatch: {name} {r}")
                if f"queries.{name}.setup" not in crashed:
                    failed += 1
    bad = [c for c in checks if not c["ok"]]
    correct = art["error"] is None and not bad and failed == 0
    attempted = max(1, int(art["attempted"]))

    got = art["metrics"]
    got["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            v = got[name]["value"]
        elif args.trace and not name.startswith(LAYERS[args.workload]):
            v = 0.0
        else:
            fail(f"workload did not measure {name}", 6)
        metrics[name] = {"value": v, "unit": m["unit"]}

    art["settings"].update(git_commit=git_commit(root), source_sha256=stamp,
                           jvm_launch_flags=flags, run_py_args=vars(args))
    art["result"] = {"correct": correct, "attempted": attempted, "failed": failed}
    with open(os.path.join(state, "runs", f"{tag}.json"), "w") as f:
        json.dump(art, f, indent=1)
    for c in bad:
        log(f"check failed: {c['name']}: {c['detail'][:500]}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
