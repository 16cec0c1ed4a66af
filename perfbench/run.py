#!/usr/bin/env python3
"""Repository benchmark: seeded closed-loop workloads over the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload reserves --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine and the benchmark with sbt
(perfbench/build.sbt); later runs reuse the build while no source changed.
The JVM writes its answers and metrics to .bench_build/runs/<run>/; this
wrapper runs the DuckDB oracle for the curation workload, prints one line
per metric, and prints the result as one JSON object on the last line.
It exits 1 when any answer is wrong, 2 when the benchmark cannot run.
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

WORKLOADS = ["reserves", "breakdown", "curation", "ingest"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_OPTS = ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-Dspark.ui.enabled=false"] + [
    arg for p in [
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar",
    ] for arg in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Digest of every build input's path, size and mtime."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(root, "perfbench", "build.sbt")]
    for top in ["src/main", "perfbench/src/main", "project", "perfbench/project"]:
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{os.path.relpath(p, root)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


CHILDREN = []


def stop_children(signum, _frame):
    """Kill every child process group before exiting on a signal."""
    for p in CHILDREN:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_bounded(cmd, cwd, timeout, log_path, env=None):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it. Returns (returncode, stdout)."""
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=log,
                             env=env, start_new_session=True, text=True)
        CHILDREN.append(p)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.communicate()
            return None, ""
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    return p.returncode, out


def build(root, work):
    """Compile with sbt unless the cached classpath is current."""
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "classpath.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read(), False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        os.path.join(root, "perfbench"), BUILD_TIMEOUT_S,
        os.path.join(work, "build.log"), env)
    lines = [l for l in out.splitlines() if "perfbench" in l and ":" in l
             and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {os.path.join(work, 'build.log')}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, True


def run_oracle(case):
    """Compare one curation answer with the registry's DuckDB oracle SQL
    over the same corpus. Returns None when they agree, else the reason."""
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{case['docs']}/*.parquet')")
    with open(case["sql"]) as f:
        sql = f.read()
    # DuckDB re-evaluates an inlined CTE on every step of a recursive one;
    # materializing the pairs CTE changes the plan, not the answer
    sql = sql.replace("pairs AS (", "pairs AS MATERIALIZED (", 1)
    want = con.execute(sql).fetchall()
    got = con.execute(f"SELECT * FROM read_parquet('{case['out']}/*.parquet')").fetchall()
    if len(got) != len(want):
        return f"{len(got)} rows, oracle has {len(want)}"
    key = lambda r: tuple("" if v is None else str(v) for v in r)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if g != w:
            return f"row {g} vs oracle {w}"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_children)

    started = time.time()
    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala", "perfbench/build.sbt"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a repository checkout")
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    cp, built = build(root, work)
    if built:
        started = time.time()

    run_dir = os.path.join(work, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + JVM_OPTS + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                               "-cp", cp, "perfbench.Main",
                               "--workload", a.workload, "--seed", str(a.seed),
                               "--seconds", str(a.seconds), "--trace", str(a.trace),
                               "--out", run_dir]
    rc, out = run_bounded(cmd, root, RUN_TIMEOUT_S - (time.time() - started),
                          os.path.join(run_dir, "jvm.log"))
    for line in out.splitlines():
        if line.startswith("[perfbench]"):
            print(line)
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM failed (exit {rc}); see {os.path.join(run_dir, 'jvm.log')}")
    with open(result_path) as f:
        res = json.load(f)

    failed = set(res["failed_seqs"])
    t_oracle = time.time()
    for case in res["oracle"]:
        why = run_oracle(case)
        if why is not None:
            print(f"[perfbench] oracle mismatch for {case['kind']}: {why}")
            failed |= set(case["seqs"])
        else:
            print(f"[perfbench] oracle agrees for {case['kind']} "
                  f"({len(case['seqs'])} requests)")
    if res["oracle"]:
        print(f"[perfbench] DuckDB oracle took {time.time() - t_oracle:.1f} s")
    attempted = res["attempted"]
    print(f"[perfbench] failed_frac={len(failed) / attempted:.4f} "
          f"({len(failed)}/{attempted} requests failed or answered wrong)")
    result = {"correct": not failed, "attempted": attempted, "failed": len(failed),
              "metrics": res["metrics"]}
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    sys.exit(0 if not failed else 1)


if __name__ == "__main__":
    main()
