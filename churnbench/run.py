#!/usr/bin/env python3
"""Churn lakehouse benchmark: one command, two workloads.

    python3 churnbench/run.py --workload <daily_refresh|serve> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program and the
benchmark from source with sbt when their sources changed since the last
build (output under .bench_build/, target/ and churnbench/target/), runs
the workload in a fresh JVM with its own temporary warehouse, Spark local
dir and ANN index store, checks the program's outputs, and prints one JSON
object as the last line of stdout. A failed check or a failed build exits
non-zero. See churnbench/README.md.
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
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
WORKLOADS = ("daily_refresh", "serve")
DATA = os.path.join(HERE, "data", "sf0.001")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run, build excluded, must end well inside 180 s
BUILD_LIMIT_S = 840

# Spark on JDK 17 needs these outside spark-submit (as in the program's
# own build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def fail(msg, code):
    print(f"churnbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change calls for a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = [s for s in subdirs if s not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compiles program and benchmark when their sources changed; returns
    the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("the program's sources (build.sbt, src/main/scala/graft) are "
             "not in this checkout", 2)
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    for f in (stamp_file, cp_file):
        if os.path.exists(f):
            os.remove(f)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true",
                 f"-Dchurnbench.classpath={cp_file}", "compile", "writeClasspath"],
                cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_LIMIT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not run: {e}", 3)
    if rc != 0 or not os.path.isfile(cp_file):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"build failed (sbt exit {rc}); log in {log}", 3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return open(cp_file).read().strip()


def jvm_env():
    """The caller's environment minus anything that would change the JVM's
    flags or Spark's settings between runs."""
    return {k: v for k, v in os.environ.items()
            if k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")
            and not k.startswith("SPARK_") and not k.startswith("GRAFT_")}


def run_jvm(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", *ADD_OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dgraft.index.root={os.path.join(run_dir, 'index')}",
           "-cp", cp, "churnbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--root", run_dir, "--data", DATA,
           "--trace-out", os.path.join(BUILD, "traces",
                                       f"{args.workload}-seed{args.seed}.json")]
    log_path = os.path.join(BUILD, "logs", f"{args.workload}-seed{args.seed}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    with open(log_path, "w") as log:
        cmd += ["--launch-ns", str(time.time_ns())]
        proc = subprocess.Popen(cmd, cwd=run_dir, env=jvm_env(),
                                stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the {args.workload} run did not end in time; log in {log_path}", 4)
    if proc.returncode != 0:
        sys.stderr.write("".join(open(log_path).readlines()[-40:]))
        fail(f"the JVM exited with {proc.returncode}; log in {log_path}", 4)
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("the JVM printed no result", 4)
    return json.loads(lines[-1]), log_path


def canon(rows, cols):
    """Columns by name, rows sorted: the comparison tools/check.py makes."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return sorted(cols), sorted(out, key=lambda t: tuple(str(x) for x in t))


def oracle_failures(out_dir):
    """Each query's cold-pass rows against its DuckDB oracle SQL."""
    import duckdb
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(DATA, t)}.parquet')")
    bad = []
    for name, sql in sorted(oracle.items()):
        try:
            res = con.execute(sql)
            expected = canon(res.fetchall(), [d[0] for d in res.description])
            res = con.execute("SELECT * FROM read_parquet("
                              f"'{os.path.join(out_dir, name)}/*.parquet')")
            actual = canon(res.fetchall(), [d[0] for d in res.description])
        except Exception as e:  # an oracle that cannot run is a failure too
            bad.append(f"{name}: {e}")
            continue
        if expected != actual:
            bad.append(f"{name}: rows differ from the DuckDB oracle")
    con.close()
    return bad


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        result, log_path = run_jvm(cp, args, run_dir, deadline)
        out_dir = os.path.join(run_dir, "out")
        if os.path.isdir(out_dir):  # a traced run's query-set outputs
            bad = oracle_failures(out_dir)
            for b in bad:
                print(f"[check] FAILED: {b}", file=sys.stderr)
            result["correct"] = result["correct"] and not bad
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    if not result["correct"]:
        fail(f"a check failed; see {log_path}", 1)


if __name__ == "__main__":
    main()
