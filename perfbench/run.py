#!/usr/bin/env python3
"""Runs one benchmark workload of the graft engine and prints its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> \
        --trace <0|1> --queries <workload>=<q1,q2,...> [...]

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (offline) and generates the fixture tables;
later runs reuse both while their inputs are unchanged. Each run is one
fresh JVM with a fixed core count and heap. The last line of standard
output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The line before it carries the details: sample counts,
workload-specific figures, failures and the environment. The exit code is
1 on a correctness mismatch or a failed operation, 2 when the checkout
cannot run the benchmark.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ("olap_iterative", "table_churn")
CORES = 4
HEAP = "4g"
# time limits in seconds: a run must end within 180 s, or 900 s when it
# has to build first
RUN_LIMIT, BUILD_LIMIT = 175, 880
# Spark on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--queries", nargs="+", default=[],
                   help="frozen query lists as <workload>=<q1,q2,...>; "
                        "repeat a workload to continue its list")
    a = p.parse_args()
    lists = {}
    for item in a.queries:
        wl, _, names = item.partition("=")
        lists.setdefault(wl, []).extend(n for n in names.split(",") if n)
    a.query_list = lists.get(a.workload, [])
    if a.workload.startswith("olap") and not a.query_list:
        die(f"no query list for {a.workload} (pass --queries {a.workload}=...)")
    return a


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(d, exist_ok=True)
    return d


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        for dirpath, dirnames, files in os.walk(base):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            for f in sorted(files):
                full = os.path.join(dirpath, f)
                h.update(os.path.relpath(full, ROOT).encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(out):
    """Compiles engine + harness once per source state; returns the classpath."""
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
              HARNESS]
    stamp = digest(inputs + [os.path.join(ROOT, "build.sbt")])
    stamp_file = os.path.join(out, "build.stamp")
    cp_file = os.path.join(out, "classpath.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip(), False
    log = os.path.join(out, "build.log")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=sbt_env(), stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT - 120)
    with open(log, "w") as fh:
        fh.write(proc.stdout)
    # the exported classpath is the one unprefixed line of sbt's output
    lines = [l for l in proc.stdout.splitlines()
             if os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not lines:
        die(f"build failed (see {log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def fixtures(out):
    """Generates the fixture tables once per generator version."""
    gen = os.path.join(HERE, "gen_data.py")
    data = os.path.join(out, "data", "sf0.1")
    stamp = hashlib.sha256(open(gen, "rb").read()).hexdigest()
    stamp_file = os.path.join(out, "data", "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return data
    shutil.rmtree(os.path.join(out, "data"), ignore_errors=True)
    subprocess.run([sys.executable, gen, data], check=True)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return data


def run_jvm(a, cp, data, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", *ADD_OPENS, "-cp", cp,
           "graft.perfbench.Main", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--data", data, "--out", run_dir,
           "--cores", str(CORES)]
    if a.query_list:
        cmd += ["--queries", ",".join(a.query_list)]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES), SPARK_LOCAL_DIRS=tmp)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"the run did not finish in time (see {run_dir}/jvm.log)", 1)
    shutil.rmtree(tmp, ignore_errors=True)
    result = os.path.join(run_dir, "result.json")
    if proc.returncode != 0 or not os.path.exists(result):
        die(f"the JVM failed with code {proc.returncode} "
            f"(see {run_dir}/jvm.log)", 1)
    with open(result) as fh:
        return json.load(fh)


def cache_oracles(out, data, verify):
    """Replaces each oracle query in the dump's oracle_sql.json by a read of
    its DuckDB result, computed once per (oracle SQL, fixture version) and
    kept under the build directory. The fixtures never change between runs,
    and some oracles take DuckDB tens of seconds."""
    import duckdb
    spec = os.path.join(verify, "oracle_sql.json")
    with open(spec) as fh:
        oracles = json.load(fh)
    with open(os.path.join(data, os.pardir, "stamp")) as fh:
        data_stamp = fh.read()
    cache = os.path.join(out, "oracle")
    os.makedirs(cache, exist_ok=True)
    con = None
    cached = {}
    for name, sql in oracles.items():
        key = hashlib.sha256((data_stamp + sql).encode()).hexdigest()[:24]
        path = os.path.join(cache, f"{name}-{key}.parquet")
        if not os.path.exists(path):
            if con is None:
                con = duckdb.connect()
                for f in sorted(os.listdir(data)):
                    con.execute(f"CREATE VIEW {f[:-len('.parquet')]} AS SELECT "
                                f"* FROM read_parquet('{os.path.join(data, f)}')")
            con.execute(f"COPY ({sql}) TO '{path}.tmp' (FORMAT PARQUET)")
            os.replace(path + ".tmp", path)
        cached[name] = f"SELECT * FROM read_parquet('{path}')"
    with open(spec, "w") as fh:
        json.dump(cached, fh)


def oracle_check(out, data, run_dir, deadline):
    """DuckDB comparison of the dumped query results by the repository's own
    checker (scripts/check.py); returns (passed, mismatch lines)."""
    verify = os.path.join(run_dir, "verify")
    cache_oracles(out, data, verify)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check.py"), data,
         verify],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=max(1.0, deadline - time.monotonic()))
    lines = proc.stdout.splitlines()
    bad = [l for l in lines if l.startswith("FAIL")]
    passed = sum(1 for l in lines if l.startswith("PASS"))
    if proc.returncode != 0 and not bad:
        bad = [f"oracle check exited {proc.returncode}: {lines[-1:]}"]
    return passed, bad


def main():
    t0 = time.monotonic()
    a = parse_args()
    for need in ("src/main/scala", "build.sbt", "scripts/check.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} is missing: run from the root of a graft checkout")
    out = build_dir()
    cp, built = build(out)
    deadline = t0 + (BUILD_LIMIT if built else RUN_LIMIT)
    data = fixtures(out)
    run_dir = os.path.join(out, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    r = run_jvm(a, cp, data, run_dir, deadline)
    mismatches = list(r["mismatches"])
    checked = None
    if a.workload.startswith("olap"):
        checked, bad = oracle_check(out, data, run_dir, deadline)
        mismatches += bad
    failures = r["failures"]
    correct = not mismatches and not failures
    detail = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "blocks": r["blocks"], "wall_s": r["wall_s"],
        "samples": {k: v["n"] for k, v in r["metrics"].items()},
        "details": r["details"], "op_counts": r["op_counts"],
        "oracle_checked": checked, "mismatches": mismatches[:20],
        "failures": failures[:20], "env": r["env"],
    }
    print(json.dumps(detail))
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in r["metrics"].items()}
    print(json.dumps({"correct": correct, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
