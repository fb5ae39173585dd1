#!/usr/bin/env python3
"""Binlog pipeline benchmark: build, run one workload in a fresh JVM, print
one JSON result line.

    python3 pipebench/run.py --workload binlog_ticks --seed 1 --seconds 30 --trace 0
    python3 pipebench/run.py --selftest

Run from the repository root. The program and the benchmark's Scala sources
are compiled from source into `.bench_build/`; each run works in a wiped
`.bench_run/` (sinks, checkpoints, warehouse, metastore, Spark local dirs).
The last line of stdout is the result; see pipebench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import build

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_ROOT = ".bench_run"
JVM_TIMEOUT_S = 170
# Spark 4 on JDK 17 needs these outside spark-submit (as in the repo's build)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def loadavg():
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def java_cmd(classes, jars, root, main, args):
    opts = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file outside the run directory
    return (["java", "-Xms2g", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData"] + opts + [
        "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false",
        "-Djava.io.tmpdir=" + os.path.join(root, "tmp"),
        "-Dderby.system.home=" + os.path.join(root, "derby"),
        "-Dgraft.warehouse=" + os.path.join(root, "warehouse"),
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", classes + os.pathsep + os.path.join(jars, "*"),
        main] + args)


def fresh_root(root):
    shutil.rmtree(root, ignore_errors=True)
    for d in ("tmp", "derby", "warehouse", "local"):
        os.makedirs(os.path.join(root, d))


def run_jvm(cmd, root, deadline):
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(root, "local"))
    with open(os.path.join(root, "jvm.out"), "w") as out, \
            open(os.path.join(root, "jvm.err"), "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, env=env)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    with open(os.path.join(root, "jvm.out")) as f:
        lines = f.read().splitlines()
    return code, lines


def fail(msg, root=None):
    print("pipebench: " + msg, file=sys.stderr)
    if root and os.path.exists(os.path.join(root, "jvm.err")):
        with open(os.path.join(root, "jvm.err")) as f:
            tail = f.read().splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if not a.selftest and a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %r" % a.workload)

    try:
        classes, jars = build.build(".")
    except build.BuildError as e:
        fail("build failed: %s" % e)

    root = os.path.abspath(RUN_ROOT)
    fresh_root(root)
    if a.selftest:
        code, lines = run_jvm(java_cmd(classes, jars, root, "pipebench.SelfTest", []),
                              root, time.time() + JVM_TIMEOUT_S)
        print("\n".join(lines))
        if code != 0:
            fail("selftest failed (exit %s)" % code, root)
        return

    nproc = os.cpu_count()
    print("nproc %d loadavg_start %s" % (nproc, loadavg()))
    launched = time.time()
    cmd = java_cmd(classes, jars, root, "pipebench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", root])
    code, lines = run_jvm(cmd, root, launched + JVM_TIMEOUT_S)
    print("nproc %d loadavg_end %s" % (nproc, loadavg()))
    if code != 0:
        fail("run failed (exit %s)" % code, root)

    setup_end = [l for l in lines if l.startswith("setup_end_epoch_ms ")]
    result = [l for l in lines if l.startswith("result ")]
    if not setup_end or not result:
        fail("run printed no result", root)
    for l in lines:
        if l.startswith(("warmup_ops ", "op_ms ", "setup_ms ")):
            print(l)
    r = json.loads(result[-1][len("result "):])
    values = dict(r["metrics"])
    if a.trace == 0:
        values["setup_s"] = int(setup_end[-1].split()[1]) / 1000.0 - launched
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail("metrics missing from the run: %s" % ", ".join(missing), root)
    print("timed_ops %d" % r["timed_ops"])
    print(json.dumps({
        "correct": r["correct"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))


if __name__ == "__main__":
    main()
