#!/usr/bin/env python3
"""graft benchmark: build, run one workload, check outputs, report.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload search|build \
        --seed N --seconds S --trace 0|1

Builds graft and the harness from source with sbt (once per source
digest), runs one workload in one JVM on local[<cores>], checks every
registry-row output against its DuckDB oracle, writes a name-keyed
result file under .perfbench/results/, and prints one JSON line last:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
"""
import argparse
import concurrent.futures
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
CORES = len(os.sched_getaffinity(0))
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else the one beside the
    spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME", "")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        die("Spark jars not found; set SPARK_HOME")
    return jars


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for all of it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def build(digest, jars):
    """Compile graft's sources plus the harness; skip when the stamp
    matches the current source digest."""
    classes = os.path.join(BENCH, "target", "scala-2.13", "classes")
    stamp = os.path.join(BENCH, "target", "perfbench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return classes
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ("-Dsbt.offline=true -Dsbt.server.forcestart=false -Xmx2g"
            f" -Dperfbench.sparkJars={jars}")
    if os.path.exists(repos):
        opts += (" -Dsbt.override.build.repos=true"
                 f" -Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = opts
    # `products` compiles and also copies the resources (the graft-synth
    # data source registration) into the classes directory.
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "Compile / products"],
                   BUILD_TIMEOUT_S, cwd=BENCH, env=env,
                   stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        die(f"build failed (sbt exit {rc})")
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classes


def canon(rows, cols):
    """Order-insensitive digest of a result: columns by name, rows
    sorted, values by repr (the repo's oracle gate, tools/check.py)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    h = hashlib.md5()
    for r in out:
        h.update("|".join(r).encode())
    return h.hexdigest()


def oracle_check(checks):
    """Compare each registry-row output with its DuckDB oracle over the
    same parquet tables, four rows at a time. Returns {op id: message}
    for the mismatches and the seconds each row's checks took."""
    bad, secs = {}, {}
    if not checks:
        return bad, secs
    import duckdb
    cons = {}
    for data in {c["data"] for c in checks}:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        for t in glob.glob(os.path.join(data, "*.parquet")):
            name = os.path.basename(t)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                        f"read_parquet('{t}')")
        cons[data] = con

    def one(c):
        t0 = time.monotonic()
        cur = cons[c["data"]].cursor()
        try:
            if not c.get("sql"):
                raise ValueError("no oracle SQL for this row")
            got = cur.execute(
                f"SELECT * FROM read_parquet('{c['path']}/*.parquet')")
            grows, gcols = got.fetchall(), [d[0] for d in got.description]
            want = cur.execute(c["sql"])
            wrows, wcols = want.fetchall(), [d[0] for d in want.description]
            if sorted(gcols) != sorted(wcols):
                raise ValueError(f"columns {sorted(gcols)} vs {sorted(wcols)}")
            if len(grows) != len(wrows):
                raise ValueError(f"{len(grows)} rows vs {len(wrows)}")
            if canon(grows, gcols) != canon(wrows, wcols):
                raise ValueError("values differ")
            msg = None
        except Exception as e:  # noqa: BLE001 — every failure is recorded
            msg = f"oracle {c['row']}: {str(e)[:300]}"
        finally:
            cur.close()
        return c, msg, time.monotonic() - t0

    with concurrent.futures.ThreadPoolExecutor(4) as pool:
        for c, msg, s in pool.map(one, checks):
            if msg:
                bad[c["op"]] = msg
            secs[c["row"]] = secs.get(c["row"], 0.0) + s
    for con in cons.values():
        con.close()
    return bad, secs


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    # On SIGTERM, unwind through the `finally` blocks, which stop the JVM
    # or sbt process group and delete the run directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["search", "build"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("graft sources not found next to the benchmark")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("BENCHMARK.json not found next to the benchmark")
    with open(spec_path) as fh:
        spec = json.load(fh)
    jars = spark_jars()
    digest = source_digest()
    classes = build(digest, jars)

    work = os.path.join(os.getcwd(), ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    res_dir = os.path.join(work, "results")
    os.makedirs(res_dir, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    out = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--run-dir", run_dir, "--out", out, "--cores", str(CORES)]
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    try:
        with open(log, "w") as lf:
            rc = run_group(cmd, RUN_TIMEOUT_S, env=env, stdout=lf,
                           stderr=subprocess.STDOUT)
        shutil.copy(log, os.path.join(
            res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.log"))
        if rc != 0 or not os.path.exists(out):
            with open(log) as lf:
                sys.stderr.write(lf.read()[-4000:])
            die(f"benchmark JVM failed (exit {rc})")
        with open(out) as fh:
            res = json.load(fh)
        bad, oracle_s = oracle_check(res["oracle"])
        failures = res["failures"]
        failed_ops = {f["op"] for f in failures}
        for op, msg in bad.items():
            if op not in failed_ops:
                failures.append({"op": op, "kind": "oracle", "name": "",
                                 "message": msg})
        attempted = res["attempted"]
        failed = res["failed"] + len(set(bad) - failed_ops)
        metrics = dict(res["metrics"])
        wanted = [(m["name"], m["unit"])
                  for m in spec["per_layer" if a.trace else "end_to_end"]]
        if not a.trace:
            metrics["success_rate"] = 1.0 - failed / max(1, attempted)
        missing = [n for n, _ in wanted
                   if not isinstance(metrics.get(n), (int, float))
                   or not math.isfinite(metrics[n])]
        if missing:
            die(f"metrics not measured: {missing}; failures: {failures[:5]}")
        res.update(failures=failures, failed=failed, metrics=metrics,
                   git_commit=git_commit(), source_digest=digest,
                   oracle_checked=len(res["oracle"]), oracle_s=oracle_s)
        del res["oracle"]
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        with open(os.path.join(res_dir, name), "w") as fh:
            json.dump(res, fh, indent=1, sort_keys=True)
        if a.trace:
            shutil.move(out + ".spans.jsonl",
                        os.path.join(res_dir, name[:-5] + ".spans.jsonl"))
        for f in failures[:20]:
            print(f"perfbench: failed {f['kind']} {f['name']}: "
                  f"{f['message']}", file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {n: {"value": metrics[n], "unit": u}
                        for n, u in wanted}}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
