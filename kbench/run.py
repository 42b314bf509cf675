#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 kbench/run.py --workload follow_tip --seed 1 --seconds 10 --trace 0

Builds the repository and the harness (kbench/harness) with sbt on first use
or when a source changed, runs one workload in one JVM with its own scratch
root (index, stream checkpoint, java.io.tmpdir, Spark local dirs), checks
every answer against the harness's reference model (llm_batch: against
DuckDB running each query's oracle SQL), deletes the scratch root and prints
one JSON result as the last line of stdout. Workloads, metrics and their
meaning: kbench/METRICS.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
STATE = os.path.join(ROOT, ".kbench")
WORKLOADS = ["follow_tip", "llm_batch"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800


def fail(msg):
    print(f"kbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")):
        for d, _, fs in sorted(os.walk(base)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HARNESS, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_compile(cwd):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                        "compile"], cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
        fail(f"build failed in {cwd}")


def build():
    """Compile the repository, then the harness against its classes."""
    for p in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"not a checkout of the repository: {p} is missing")
    os.makedirs(STATE, exist_ok=True)
    stamp = os.path.join(STATE, "build.stamp")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    sbt_compile(ROOT)
    sbt_compile(HARNESS)
    with open(stamp, "w") as fh:
        fh.write(digest)


def classpath():
    """Harness and repository classes, and the Spark jars the root build uses."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        jars = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read()).group(1)
    return ":".join([os.path.join(HARNESS, "target", "scala-2.13", "classes"),
                     os.path.join(ROOT, "target", "scala-2.13", "classes"),
                     os.path.join(jars, "*")])


def java_cmd(scratch, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap under the parallel collector makes VmHWM reproducible.
    # The collector fills whatever heap it is given before a full
    # collection, so VmHWM is mostly heap touched; kbench/METRICS.md says
    # how much
    cmd += ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={scratch}/tmp", f"-Dspark.local.dir={scratch}/spark-local",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath(), "kbench.Main"] + args
    return cmd


def du(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def check_oracle(results_dir, data_dir):
    """Compare each llm_batch query's result (parquet written by the harness
    after its timed passes) with DuckDB running the query's oracle SQL on the
    same tables, row for row in result order. Returns (checked, failed)."""
    import duckdb
    oracle = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def canon(rel):
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        types = [str(rel.types[i]) for i in order]
        return [cols[i] for i in order], types, [tuple(repr(r[i]) for i in order) for r in rel.fetchall()]

    checked = failed = 0
    for name in sorted(oracle):
        checked += 1
        try:
            got = canon(con.sql(f"SELECT * FROM '{results_dir}/{name}/*.parquet'"))
            want = canon(con.sql(oracle[name]))
            ok = got == want
        except Exception as e:  # a query that cannot be compared counts as wrong
            print(f"oracle {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failed += 1
            print(f"oracle {name}: MISMATCH", file=sys.stderr)
    return checked, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    build()
    scratch = os.path.join(STATE, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    for d in ("tmp", "spark-local", "results"):
        os.makedirs(os.path.join(scratch, d))
    traces = os.path.join(STATE, "traces")
    spans = os.path.join(traces, f"{a.workload}-{a.seed}.jsonl")
    if a.trace:
        os.makedirs(traces, exist_ok=True)
    data = os.path.join(HERE, "data")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--scratch", scratch, "--data", data] + (["--spans", spans] if a.trace else [])
    # a terminated run still stops its JVM and deletes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        proc = subprocess.Popen(java_cmd(scratch, args), cwd=scratch, stdout=subprocess.PIPE,
                                stderr=subprocess.PIPE, start_new_session=True)
        try:
            out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s")
        out = out.decode(errors="replace")
        result = None
        for line in out.splitlines():
            if line.startswith("KBENCH_RESULT "):
                result = json.loads(line[len("KBENCH_RESULT "):])
            else:
                print(line)
        if proc.returncode != 0 or result is None:
            sys.stderr.write(err.decode(errors="replace")[-6000:])
            fail(f"{a.workload} exited with {proc.returncode} and no result")
        attempted, failed = result["attempted"], result["failed"]
        if a.workload == "llm_batch":
            checked, wrong = check_oracle(os.path.join(scratch, "results"), data)
            # every timed execution of a query whose result is wrong counts
            failed += wrong * (attempted // checked)
            print(f"oracle: {checked - wrong}/{checked} query results equal their DuckDB oracle")
        # what the program left in its temp dir after its own clean-up
        leftover = du(os.path.join(scratch, "tmp"))
        print(f"leftover_bytes {leftover} (java.io.tmpdir after exit)")
        print(f"metric error_share {failed / max(1, attempted):.4f} ratio ({failed} of {attempted})")
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
    # BENCHMARK.json names the metrics: every end-to-end one must have been
    # measured; a per-layer one the workload does not exercise reads 0
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    measured = result["layer"] if a.trace else result["e2e"]
    if a.trace:
        measured["run.leftover_bytes"] = {"value": leftover, "unit": "bytes"}
        measured["run.error_share"] = {"value": failed / max(1, attempted), "unit": "ratio"}
    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = measured.pop(m["name"], None)
        if v is None or v["value"] is None:
            if not a.trace:
                fail(f"{a.workload} did not measure {m['name']}")
            v = {"value": 0, "unit": m["unit"]}
        metrics[m["name"]] = v
    for k, v in measured.items():
        print(f"layer {k} {v['value']} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
