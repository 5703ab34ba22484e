#!/usr/bin/env python3
"""Closed-loop benchmark of graft.

usage: python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
                                --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and
the harness with sbt (offline). Each run then generates the inputs for
its seed under perfbench/.work, computes the DuckDB expectations the
CLIF queries are checked against, drives graft in one JVM and prints
the result as the last line of standard output:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--seconds sets how many units of work a run measures (see WORKLOADS).
With --trace 0 the metrics are the end-to-end ones; with --trace 1
they are the per-layer ones of a traced run. The full record of a run,
with its context (cores, load, versions, seed) and per-operation
numbers, is written to perfbench/.work/results/, and its spans to
perfbench/.work/traces/.
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
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

# A run measures round(--seconds / unit_s) units of work, and at least
# min_units so that the median has several samples. unit_s is the
# nominal length of a unit on a 4-core host. The count does not depend
# on the host's speed, so every run of a workload does the same work.
WORKLOADS = {
    "clif_status": {"unit_s": 9.0, "min_units": 2},
    "corpus_curate": {"unit_s": 6.0, "min_units": 3},
    "wave_ingest": {"unit_s": 8.5, "min_units": 3,
                    "base_docs": 4000, "wave_docs": 100},
}
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
DEADLINE_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of everything the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    files = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_logged(cmd, log, timeout, **kw):
    """Run `cmd` to completion with its output in `log`."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, **kw)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return None


def tail(log, n=40):
    with open(log) as fh:
        return "".join(fh.readlines()[-n:])


def build(digest):
    """Compile graft and the harness; record the runtime classpath and
    the oracle SQL of the CLIF queries."""
    stamp = os.path.join(WORK, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS") or "-Xmx3g") + \
        " -Dsbt.offline=true -Dsbt.server.autostart=false"
    log = os.path.join(WORK, "build.log")
    rc = run_logged(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export perfbench/Runtime/fullClasspath"],
                    log, 840, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    classes = os.path.join(HERE, "target")
    cp = [line.strip() for line in open(log)
          if classes in line and os.pathsep in line and not line.startswith("[")]
    if rc != 0 or not cp:
        print(tail(log), file=sys.stderr)
        fail(f"build failed (exit {rc}), see {log}")
    with open(os.path.join(WORK, "classpath.txt"), "w") as fh:
        fh.write(cp[-1])
    rc = run_logged(["java", "-cp", cp[-1], "graft.perfbench.PerfBench",
                     "--mode", "oracle-sql",
                     "--out", os.path.join(WORK, "oracle_sql.json")],
                    os.path.join(WORK, "oracle.log"), 120)
    if rc != 0:
        fail("could not read the oracle SQL")
    with open(stamp, "w") as fh:
        fh.write(digest)


def expectations(inputs, out):
    """DuckDB results of the repo's oracle SQL over this seed's inputs."""
    import duckdb
    os.makedirs(out, exist_ok=True)
    con = duckdb.connect()
    for t in ("nation", "customer", "orders", "part", "events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet')")
    with open(os.path.join(WORK, "oracle_sql.json")) as fh:
        queries = json.load(fh)
    for name, sql in queries.items():
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")
    con.close()


def git_commit():
    """HEAD of the checkout, if the checkout is itself a git repository."""
    try:
        out = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"],
                             cwd=ROOT, capture_output=True, text=True,
                             timeout=10).stdout.split()
    except (OSError, subprocess.SubprocessError):
        return None
    if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
        return out[1]
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    load_start = os.getloadavg()[0]
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources next to {HERE}: run from a graft checkout")
    for d in ("results", "traces", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    digest = source_digest()
    build(digest)
    started = time.time()  # a run's deadline starts after the build

    import gen
    w = WORKLOADS[args.workload]
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    t = time.time()
    gen.generate(inputs, args.seed, w.get("base_docs"), w.get("wave_docs"))
    gen_s = time.time() - t
    expected = os.path.join(run_dir, "expected")
    if args.workload == "clif_status":
        expectations(inputs, expected)

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    result = os.path.join(run_dir, "result.json")
    spans = os.path.join(WORK, "traces", tag + ".jsonl")
    cores = len(os.sched_getaffinity(0))
    units = max(w["min_units"], round(args.seconds / w["unit_s"]))
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    with open(os.path.join(WORK, "classpath.txt")) as fh:
        cmd += ["-cp", fh.read().strip(), "graft.perfbench.PerfBench"]
    cmd += ["--mode", "run", "--workload", args.workload,
            "--seed", str(args.seed), "--units", str(units),
            "--trace", str(args.trace), "--cores", str(cores),
            "--inputs", inputs,
            "--expected", expected, "--out", result, "--spans", spans]
    log = os.path.join(run_dir, "jvm.log")
    launched = time.time()
    rc = run_logged(cmd, log, max(10, DEADLINE_S - (launched - started)),
                    stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(result):
        print(tail(log), file=sys.stderr)
        fail(f"harness exited with {rc}, see {log}")
    with open(result) as fh:
        r = json.load(fh)
    e = r["end_to_end"]
    e2e = dict(e, setup_s=gen_s + (e["main_entry_ms"] / 1000.0 - launched)
               + e["setup_jvm_s"])
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "units": units, "nproc": cores, "load_1m_start": load_start,
        "load_1m_end": os.getloadavg()[0], "commit": git_commit(),
        "source_digest": digest, "spark_version": r.get("spark_version"),
        "jdk_version": r.get("jdk_version"), "gen_s": gen_s,
    }
    failed_frac = r["failed"] / max(1, r["attempted"])
    record = dict(r, context=context, setup_s=e2e["setup_s"],
                  ops_failed_frac=failed_frac)
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as fh:
        json.dump(record, fh, indent=1)
    for d in (tmp, inputs, expected):
        shutil.rmtree(d, ignore_errors=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["end_to_end" if args.trace == 0 else "per_layer"]
    names = {m["name"]: m["unit"] for m in spec}
    values = e2e if args.trace == 0 else r["per_layer"]
    print(json.dumps({"context": context, "workload_metrics": r["workload_metrics"],
                      "ops_failed_frac": failed_frac}))
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }))


if __name__ == "__main__":
    main()
