#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload news_top|spans_sink|query_sweep \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a source checkout. It builds the library together
with the benchmark harness (sbt, offline, into perfbench/target), makes the
workload's inputs from the seed under perfbench/work, runs one JVM
(local[nproc], one closed-loop client) and prints, as its last stdout
line, {"correct", "attempted", "failed", "metrics"}. A context line before
it states cpus, nproc, master, seed, input size and the measured
hot-story share. Nothing outside the checkout is written except sbt's
own caches.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # imports below must not write into the checkout
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = "perfbench/work"  # relative to ROOT: tier names in paths matter
JAR = os.path.join(HERE, "target", "scala-2.13", "perfbench_2.13-0.1.0-SNAPSHOT.jar")
DEADLINE_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
WORKLOADS = ("news_top", "spans_sink", "query_sweep")


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def spark_home() -> str:
    """$SPARK_HOME, else the first Spark install (bin/spark-submit next to
    a jars/ directory) on PATH."""
    dirs = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.abspath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in dirs:
        if home and os.path.isdir(os.path.join(home, "jars")):
            return home
    die("no Spark install found (set SPARK_HOME)")


def build() -> None:
    """sbt package when the jar is missing or older than any source."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("no library sources next to the benchmark (src/main/scala/graft)")
    if os.path.exists(JAR) and os.path.getmtime(JAR) >= max(map(os.path.getmtime, sources())):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(JAR):
        die("build failed", 1)


def java(main: str, args: list, log: str, timeout: float) -> str:
    """Runs a JVM main; returns its stdout. The process is always reaped."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={WORK}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{JAR}:{spark_home()}/jars/*", main] + args
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(f"{WORK}/spark-local"))
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{main} exceeded {timeout:.0f} s (log: {log})", 1)
    if p.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        die(f"{main} exited with {p.returncode}", 1)
    return out


def keep_newest(parent: str, n: int) -> None:
    """Bounds disk use: keep the n most recently used corpora."""
    if not os.path.isdir(parent):
        return
    dirs = sorted((os.path.join(parent, d) for d in os.listdir(parent)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[n:]:
        shutil.rmtree(d, ignore_errors=True)


# query_sweep reads tables of one fixed seed, like the project's sf tiers
# (seed 42): the sweep measures fixed per-leaf cost, so its input does not
# vary with --seed
TABLES_SEED = 42


def query_tables() -> str:
    """The query_sweep tables; the sf0.01 in the name selects that tier's
    synth corpus sizes inside SparkEntry."""
    d = f"{WORK}/tables/s{TABLES_SEED}_sf0.01"
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        sys.path.insert(0, HERE)
        import tables
        tables.generate(d, TABLES_SEED)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def fresh_scratch() -> None:
    for d in ("out", "verify", "spark-local", "tmp", "warehouse"):
        shutil.rmtree(f"{WORK}/{d}", ignore_errors=True)
    os.makedirs(f"{WORK}/tmp", exist_ok=True)


def run(a) -> None:
    build()
    t0 = time.time()
    fresh_scratch()
    nproc = len(os.sched_getaffinity(0))
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", WORK, "--cpus", str(nproc)]
    tables = None
    if a.workload == "query_sweep":
        tables = query_tables()
        args += ["--tables", tables]
    out = java("graft.perfbench.Perf", args, f"{WORK}/jvm.log",
               DEADLINE_S - (time.time() - t0))
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not lines:
        die("the JVM printed no result", 1)
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    ctx = res["context"]
    attempted, failed = res["attempted"], res["failed"]
    if tables is not None:
        sys.path.insert(0, HERE)
        import oracle
        bad = oracle.check(tables, f"{WORK}/verify", ctx["leaf_names"])
        for leaf, why in sorted(bad.items()):
            print(f"perfbench: oracle mismatch {leaf}: {why}", file=sys.stderr)
        attempted += len(ctx["leaf_names"])
        failed += len(bad)
        ctx["oracle_failures"] = sorted(bad)
        ctx["tables_seed"] = TABLES_SEED
        del ctx["leaf_names"]
    keep_newest(f"{WORK}/corpus", 2)
    fresh_scratch()
    ctx.update(nproc=nproc, fail_frac=failed / attempted, fail_frac_unit="ratio")
    print(json.dumps({"context": ctx}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))


def selftest() -> None:
    """Each output check must catch a deliberately corrupted output, and the
    timed leaf plans must keep their kernels."""
    build()
    fresh_scratch()
    nproc = len(os.sched_getaffinity(0))
    tables = query_tables()
    out = java("graft.perfbench.SelfTest",
               ["--work", WORK, "--tables", tables, "--cpus", str(nproc)],
               f"{WORK}/selftest.log", 600)
    print(out, end="")
    ok = "SELFTEST FAIL" not in out and "SELFTEST DONE" in out
    # the oracle compare flags a corrupted leaf output and passes the rest
    sys.path.insert(0, HERE)
    import oracle
    import pandas as pd
    leaves = json.loads([l for l in out.splitlines() if l.startswith("LEAVES ")][0][7:])
    clean = oracle.check(tables, f"{WORK}/verify", leaves)
    victim = "q1_agg"
    files = [f for f in os.listdir(f"{WORK}/verify/{victim}") if f.endswith(".parquet")]
    df = pd.read_parquet(f"{WORK}/verify/{victim}/{files[0]}")
    df.loc[0, "n_rows"] = df.loc[0, "n_rows"] + 1
    df.to_parquet(f"{WORK}/verify/{victim}/{files[0]}")
    corrupted = oracle.check(tables, f"{WORK}/verify", leaves)
    for name, cond in [("oracle passes every clean leaf", not clean),
                       ("oracle catches a corrupted leaf", set(corrupted) == {victim})]:
        print(f"SELFTEST {'PASS' if cond else 'FAIL'} {name}")
        ok = ok and cond
    fresh_scratch()
    sys.exit(0 if ok else 1)


def main() -> None:
    os.chdir(ROOT)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        selftest()
    elif a.workload is None:
        die("--workload is required")
    else:
        run(a)


if __name__ == "__main__":
    main()
