#!/usr/bin/env python3
"""Benchmark runner for the Solana ETL engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 5 --trace 0

Builds the program and the benchmark from source with sbt (once per
source tree; the classes are kept under perfbench/.build), runs one
workload in one JVM, checks its outputs and prints, as the last line of
standard output, one JSON object with `correct`, `attempted`, `failed`
and `metrics`. With `--trace 0` the metrics are the end-to-end metrics
of BENCHMARK.json, with `--trace 1` its per-layer metrics. The line
before it holds the workload's own named metrics; the one before that
the host facts. Exits 1 when an output check fails, 2 when the program
cannot be built or run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("pipeline", "query_mix")
# Per-layer metrics of layers a workload does not run, by name prefix:
# these, and only these, report 0 when the run did not emit them.
IDLE_LAYERS = {
    "pipeline": ("query.",),
    "query_mix": ("sources.", "ingest.", "analytics.", "incremental."),
}
# Allowances for the JVM's timeout, about 1.5 times the longest phases
# seen on a 4-CPU host (setup 36-43 s, a pass 14-20 s, canary and checks
# under 10 s), and a factor for the slow stretches of a shared host, which
# ran up to 43% above the medians.
SETUP_ALLOWANCE_S = 60
PASS_ALLOWANCE_S = 30
TAIL_ALLOWANCE_S = 15
SLOW_HOST_FACTOR = 1.5
HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_key():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            paths = [r]
        else:
            paths = []
            for d, dirs, fs in os.walk(r):
                dirs[:] = sorted(x for x in dirs if x != "target" and not x.startswith("."))
                paths += sorted(os.path.join(d, f) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def build():
    """Compiles the program and the benchmark; returns the classpath.

    sbt compiles into the shared `target/` directories, which hold only
    the tree built last. So each build copies its class directories into
    `.build/<source key>/` and its classpath names those copies: a tree
    that was built before, say the parent of a change being compared
    with it, runs its own classes without a rebuild, and a tree that was
    not builds afresh."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no program sources next to perfbench/ (run from the root of a checkout)")
    os.makedirs(BUILD, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    key_dir = os.path.join(BUILD, source_key())
    stamp = os.path.join(key_dir, "classpath.txt")
    if os.path.exists(stamp):
        return read_classpath(key_dir)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as lf:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdout=subprocess.PIPE, stderr=lf, text=True, timeout=700)
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build failed: {e} (see {log})")
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    with open(log, "a") as lf:
        lf.write(r.stdout)
    if r.returncode != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed with code {r.returncode} (see {log})")
    # entries inside the checkout are what this tree built; entries outside
    # it are versioned jars, which do not change under a name
    tmp = f"{key_dir}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    entries = []
    root = os.path.realpath(ROOT) + os.sep
    for i, e in enumerate(lines[-1].split(os.pathsep)):
        if not os.path.realpath(e).startswith(root):
            entries.append(e)
        elif os.path.isdir(e):
            shutil.copytree(e, os.path.join(tmp, f"cp{i}"))
            entries.append(f"cp{i}")
        elif os.path.isfile(e):
            shutil.copy2(e, os.path.join(tmp, f"cp{i}.jar"))
            entries.append(f"cp{i}.jar")
    if not any(e.startswith("cp") for e in entries):
        fail(f"the build's classpath names no classes inside the checkout (see {log})")
    with open(os.path.join(tmp, "classpath.txt"), "w") as f:
        f.write("\n".join(entries) + "\n")
    shutil.rmtree(key_dir, ignore_errors=True)
    os.rename(tmp, key_dir)
    return read_classpath(key_dir)


def read_classpath(key_dir):
    with open(os.path.join(key_dir, "classpath.txt")) as f:
        return os.pathsep.join(e if os.path.isabs(e) else os.path.join(key_dir, e)
                               for e in f.read().split("\n") if e)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_timeout(seconds, trace):
    """How long the JVM may run before it counts as hung. Passes repeat
    until `seconds` have elapsed, and the last one may start just before
    that; a traced run makes at least three."""
    passes = max(3 * PASS_ALLOWANCE_S if trace else PASS_ALLOWANCE_S, seconds + PASS_ALLOWANCE_S)
    return SLOW_HOST_FACTOR * (SETUP_ALLOWANCE_S + passes + TAIL_ALLOWANCE_S)


def run_jvm(cp, args, work, out_json, timeout):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    scratch = os.path.join(work, "scratch")
    for d in (tmp, scratch):
        os.makedirs(d, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dsun.net.httpserver.nodelay=true", f"-Dderby.system.home={work}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main"] + args + ["--work", work, "--out", out_json, "--data", DATA]
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_MASTER")}
    env["GRAFT_STREAM_SCRATCH"] = scratch
    log = out_json + ".log"
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:  # a timeout, or run.py itself being stopped, stops the JVM too
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
        if code is None:
            return None, log
    return code, log


# --- query_mix output digests -------------------------------------------------

def digest(df):
    """Order-insensitive digest of a result: lower-cased sorted columns,
    their dtype kinds, and the sorted rows with floats at 6 places."""
    import pandas as pd
    df = df.copy()
    df.columns = [c.lower() for c in df.columns]
    df = df[sorted(df.columns)]
    kinds = []
    for c in df.columns:
        k = df[c].dtype.kind
        if k == "M":
            df[c] = df[c].astype("datetime64[us]")
        kinds.append("i" if k in "iu" else k)

    def cell(v):
        if v is None or v is pd.NaT:
            return "\x00null"
        if isinstance(v, float):
            return "\x00null" if math.isnan(v) else f"{round(v, 6):.6f}"
        return str(v)
    rows = sorted("\x01".join(cell(v) for v in r) for r in df.itertuples(index=False, name=None))
    h = hashlib.sha256()
    h.update(("|".join(df.columns) + "#" + "".join(kinds)).encode())
    for r in rows:
        h.update(r.encode("utf-8", "surrogatepass") + b"\n")
    return h.hexdigest()


def check_queries(work):
    """(attempted, failures) for the query_mix digest checks."""
    import duckdb
    import pandas as pd
    res = os.path.join(work, "query_mix-results")
    oracle = json.load(open(os.path.join(res, "oracle_sql.json")))
    con = duckdb.connect()
    for f in sorted(os.listdir(DATA)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(DATA, f)}'")
    failures = []
    for name, sql in sorted(oracle.items()):
        p = os.path.join(res, name)
        try:
            same = os.path.isdir(p) and digest(pd.read_parquet(p)) == digest(con.sql(sql).df())
        except Exception as e:  # an unreadable result or a failing oracle fails the check
            failures.append(f"query_mix: {name}: {e}")
            continue
        if not same:
            failures.append(f"query_mix: {name}: digest differs from its oracle")
    return len(oracle), failures


def main():
    # stopping run.py must unwind through run_jvm, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.load(open(spec_path))
    cp = build()
    run_id = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD, "work", f"{run_id}-{os.getpid()}")
    out_json = os.path.join(OUT, f"{run_id}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        n = cpus()
        code, log = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                                 "--seconds", str(a.seconds), "--trace", str(a.trace),
                                 "--cpus", str(n)], work, out_json,
                            jvm_timeout(a.seconds, a.trace))
        if code != 0 or not os.path.exists(out_json):
            tail = open(log, errors="replace").read()[-3000:]
            print(tail, file=sys.stderr)
            fail(f"the benchmark JVM {'timed out' if code is None else f'exited with {code}'} (log: {log})")
        r = json.load(open(out_json))
        attempted, failed = int(r["attempted"]), int(r["failed"])
        failures = list(r["failures"])
        if a.workload == "query_mix":
            qa, qf = check_queries(work)
            attempted += qa
            failed += len(qf)
            failures += qf
    finally:
        shutil.rmtree(work, ignore_errors=True)

    key = "per_layer" if a.trace else "end_to_end"
    values = r[key]
    metrics = {}
    for m in spec[key]:
        v = values.get(m["name"])
        if v is None:
            if not a.trace or not m["name"].startswith(IDLE_LAYERS[a.workload]):
                fail(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    r["failures"] = failures
    with open(out_json, "w") as f:
        json.dump(r, f, indent=1)
    for msg in failures:
        print(f"CHECK FAILED {msg}", file=sys.stderr)
    print(json.dumps({"host": r["host"], "passes": r["passes"], "traced_passes": r["traced_passes"]}))
    print(json.dumps({"workload": a.workload, "seed": a.seed, "workload_metrics": r["named"],
                      "peak_rss_mb": r["peak_rss_mb"]}))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
