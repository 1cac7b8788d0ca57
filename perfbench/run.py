#!/usr/bin/env python3
"""Benchmark launcher: builds the engine and the benchmark, runs one workload
in one JVM, checks query results against the DuckDB oracle and prints the
result as the last line of standard output.

    python3 perfbench/run.py --workload sync_append --seed 1 --seconds 15 --trace 0

Run it from the repository root. Everything it writes goes under `.perfbench/`
there; the per-run temp root is deleted on exit. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("sync_append", "sync_incremental", "query_mix")
# query_mix reads one fixed table set, as the queries' own testdata is
# fixed: data-dependent convergence rounds would otherwise make pass time
# a function of the seed. The seed orders the queries within a pass.
QUERY_SCALE = 0.01  # lineitem rows = 6M x scale
QUERY_DATA_SEED = 42
# a fixed heap and the throughput collector: no heap resizing and no
# concurrent collector threads competing with the four task threads
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
# a run spends about 35 s outside its measuring window (JVM and Spark start,
# three set-ups, warm-up, final checks); the allowance leaves room for a
# much slower commit while a 20 s run still ends well inside 180 s
JVM_ALLOWANCE_S = 120
ORACLE_TIMEOUT_S = 30
BUILD_TIMEOUT_S = 850
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(repo):
    """sha256 over every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main",
             "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main"]
    for r in roots:
        p = os.path.join(repo, r)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in sorted(files):
            h.update(os.path.relpath(f, repo).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build(repo, state):
    """Compile engine and benchmark once per source tree; returns the classpath."""
    digest = source_digest(repo)
    stamp, cp_file = os.path.join(state, "build.stamp"), os.path.join(state, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    log("building engine and benchmark with sbt")
    t0 = time.time()
    try:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(repo, "perfbench"), env=sbt_env(), stdin=subprocess.DEVNULL,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: build did not end within {BUILD_TIMEOUT_S} s")
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-5000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, digest


def git_commit(repo):
    if not os.path.isdir(os.path.join(repo, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=repo, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def oracle_check(repo, tables_dir, check_dir):
    """The repo's DuckDB comparison over the check pass; returns (ok, failed, lines)."""
    try:
        proc = subprocess.run([sys.executable, os.path.join(repo, "tools", "check_oracle.py"),
                               tables_dir, check_dir], capture_output=True, text=True,
                              timeout=ORACLE_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return 0, [f"FAIL check_oracle did not end within {ORACLE_TIMEOUT_S} s"]
    lines = proc.stdout.splitlines()
    ok = sum(1 for line in lines if line.startswith("OK"))
    failed = [line for line in lines if line.startswith("FAIL")]
    if proc.returncode != 0 and not failed:
        failed = [f"FAIL check_oracle exited {proc.returncode}: {proc.stderr[-500:]}"]
    return ok, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    repo = os.getcwd()
    needed = ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py",
              "perfbench/build.sbt"]
    missing = [n for n in needed if not os.path.exists(os.path.join(repo, n))]
    if missing:
        log(f"not a repository checkout (missing {', '.join(missing)}); run from the repo root")
        return 2

    state = os.path.join(repo, ".perfbench")
    os.makedirs(state, exist_ok=True)
    cp, digest = build(repo, state)

    root = os.path.join(state, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    try:
        tables_dir = os.path.join(root, "tables")
        gen_s = 0.0
        if a.workload == "query_mix":
            import tables
            t0 = time.time()
            tables.write(tables_dir, QUERY_DATA_SEED, QUERY_SCALE)
            gen_s = time.time() - t0
        result_file = os.path.join(root, "result.json")
        spans = os.path.join(state, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={os.path.join(root, 'tmp')}",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", root,
                "--tables", tables_dir, "--repo", repo, "--commit", git_commit(repo) or "",
                "--result", result_file, "--spans", spans]
        env = dict(os.environ)
        env["SPARK_LOCAL_DIRS"] = os.path.join(root, "local")
        env["GRAFT_LOGGING_ROOT"] = os.path.join(root, "logs")
        t0 = time.time()
        timeout = a.seconds + JVM_ALLOWANCE_S
        try:
            proc = subprocess.run(cmd, cwd=repo, env=env, stdin=subprocess.DEVNULL,
                                  stdout=subprocess.PIPE, text=True, timeout=timeout)
        except subprocess.TimeoutExpired:
            log(f"benchmark JVM did not end within {timeout:.0f} s; killed")
            return 1
        jvm_s = time.time() - t0
        if proc.returncode != 0 or not os.path.exists(result_file):
            log(f"benchmark JVM exited {proc.returncode}")
            return 1
        detail = json.loads(proc.stdout.strip().splitlines()[-1])
        result = json.load(open(result_file))
        if a.workload == "query_mix":
            t0 = time.time()
            ok, failed = oracle_check(repo, tables_dir, os.path.join(root, "check"))
            result["attempted"] += ok + len(failed)
            result["failed"] += len(failed)
            result["correct"] = result["correct"] and not failed
            detail["oracle"] = {"ok": ok, "failed": failed, "seconds": time.time() - t0}
            detail["query_tables"] = {"scale": QUERY_SCALE, "seed": QUERY_DATA_SEED}
        detail["input_generation_s"] = detail.get("input_generation_s", 0.0) + gen_s
        detail["source_sha256"] = digest
        detail["jvm_wall_s"] = jvm_s
        if a.trace:
            detail["spans_file"] = os.path.relpath(spans, repo)
        print(json.dumps(detail))
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
