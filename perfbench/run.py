#!/usr/bin/env python3
"""Benchmark entry point: build, generate seeded inputs, run one workload,
check its outputs, print one JSON result line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: codstats_tick, query_ledger (see NOTES.md).
The program and the harness are compiled on first use (sbt, offline;
perfbench/build.sbt depends on the checkout's own build); inputs and run
state go to .bench_build/work/<workload>. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1, as BENCHMARK.json names
them.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import checks

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("codstats_tick", "query_ledger")
DEADLINE_S = 170  # one run, build excluded

JAVA_OPTS = ["-Xms3g", "-Xmx3g"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def die(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Content hash of everything the build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        walk = ([(os.path.dirname(r), [], [os.path.basename(r)])]
                if os.path.isfile(r) else os.walk(r))
        for d, dirs, fs in walk:
            dirs.sort()
            for f in sorted(fs):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness once per source state; returns classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    # sbt's own state (global base, launcher lock) stays in the checkout
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.boot.lock=false",
         f"-Dsbt.global.base={BUILD}/sbt-global", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [line for line in p.stdout.splitlines()
             if line and not line.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        die("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def generate(workload, seed, inputs):
    if workload == "query_ledger":
        cmd = [os.path.join(HERE, "gen_tables.py"), os.path.join(inputs, "tables")]
    else:
        cmd = [os.path.join(HERE, "gen_matches.py"), inputs]
    subprocess.run([sys.executable] + cmd + ["--seed", str(seed)], check=True)


def oracle_failures(work, inputs, started):
    """tools/check_oracle.py over the sampled queries' dumped outputs."""
    verify = os.path.join(work, "verify")
    report = os.path.join(work, "oracle.json")
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_oracle.py"),
                    verify, os.path.join(inputs, "tables"), report],
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                   timeout=max(10, DEADLINE_S - (time.time() - started)))
    with open(report) as f:
        rep = json.load(f)
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        names = json.load(f).keys()
    # a query with oracle SQL must hash-match; one without it (q40's
    # engine-native estimate) is checked on rows only. A query with no
    # output is an op that failed, already counted.
    return [n for n in names if n in rep and rep[n]["hash_match"] is not True]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # part of the benchmark interface; a run times a fixed amount of work (NOTES.md)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for need in ("src/main/scala/graft/SparkEntry.scala",
                 "tools/check_oracle.py", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found: run from the root of a full checkout", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    cp = build()

    started = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    generate(a.workload, a.seed, inputs)
    launched = time.time()  # set-up counts from here: JVM start onwards
    cores = str(len(os.sched_getaffinity(0)))
    result = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
             "perfbench.Harness", a.workload, str(a.trace),
             cores, inputs, work, result, str(int(launched * 1000))],
            cwd=work, stdout=lf, stderr=subprocess.STDOUT,
            timeout=DEADLINE_S - (time.time() - started))
    if p.returncode != 0 or not os.path.exists(result):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        die(f"harness exited with {p.returncode}")
    with open(result) as f:
        res = json.load(f)

    failed = res["failed"]
    checks_ok = all(c["ok"] for c in res["checks"])
    if a.workload == "query_ledger":
        bad = oracle_failures(work, inputs, started)
        if bad:
            print(f"perfbench: oracle mismatch: {', '.join(sorted(bad))}",
                  file=sys.stderr)
        failed += len(bad)
        checks_ok = checks_ok and not bad
    if a.workload == "codstats_tick":
        diffs = checks.compare_trees(os.path.join(work, "cron", "site"),
                                     os.path.join(work, "rebuild"),
                                     [r for r in res["reports"] if r != "meta"])
        res["checks"] += [{"name": f"report_{r}", "ok": d is None,
                           "detail": d or ""} for r, d in diffs.items()]
        if any(diffs.values()) and all(c["ok"] for c in res["checks"][:-len(diffs)]):
            failed += 1  # the last op's tree is wrong
        checks_ok = checks_ok and not any(diffs.values())
    for c in res["checks"]:
        if not c["ok"]:
            print(f"perfbench: check {c['name']} failed: {c['detail']}",
                  file=sys.stderr)

    # a per-layer metric of the other workload's layers reads 0
    metrics = {m["name"]: {"value": res["metrics"].get(m["name"], 0),
                           "unit": m["unit"]} for m in declared}
    print(json.dumps({"correct": checks_ok and failed == 0,
                      "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
