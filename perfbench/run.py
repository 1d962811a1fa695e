#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one measured run.

    python3 perfbench/run.py --workload lookup|churn|curation --seed N \
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft's sources
together with the benchmark program (perfbench/build.sbt, offline sbt) and
later runs reuse the build while the sources are unchanged. The benchmark JVM
writes raw measurements; this script turns them into metrics, prints a human
report on stderr and, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics and tracing overhead.
"""

import argparse
import glob
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
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("lookup", "churn", "curation")
BUILD_DIR = os.path.join(HERE, "target")
CLASSES = os.path.join(BUILD_DIR, "scala-2.13", "classes")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
SCRATCH_BASE = os.path.join(ROOT, ".perfbench_tmp")
RUN_TIMEOUT_S = 170
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        raise SystemExit("perfbench: no Spark install found (set SPARK_HOME)")
    return jars


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compiles graft + the benchmark program unless the stamp says the sources match."""
    digest = sources_digest()
    if os.path.exists(STAMP) and open(STAMP).read() == digest and os.path.isdir(CLASSES):
        return
    log("perfbench: building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    flags = ["-Dsbt.offline=true", "-Dspark.jars.dir=" + jars, "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        flags += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    res = subprocess.run(["sbt", "--batch"] + flags + ["compile", "Compile/copyResources"],
                         cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if res.returncode != 0:
        raise SystemExit("perfbench: build failed")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def run_jvm(args, jars, scratch, deadline):
    raw = os.path.join(scratch, "raw.json")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:MetaspaceSize=256m",
            "-Xss4m", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
           + [x for p in JVM_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", os.path.join(jars, "*") + os.pathsep + CLASSES, "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--scratch", scratch, "--out", raw])
    err_path = os.path.join(scratch, "jvm.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=scratch, stdout=err, stderr=err, start_new_session=True)
        code = "timeout"
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(raw):
        with open(err_path) as fh:
            log("".join(fh.readlines()[-60:]))
        raise SystemExit("perfbench: benchmark JVM failed (%s)" % code)
    with open(raw) as fh:
        return json.load(fh)


def report(args, raw):
    """The result object, and human-readable lines for stderr."""
    phases = raw["phases"]
    ops = [o for p in phases.values() for o in p["ops"]]
    errors = [e for p in phases.values() for e in p["errors"]]
    failed = sum(1 for o in ops if not o["ok"])
    correct = not errors and failed == 0
    e2e, named = metrics.end_to_end(args.workload, phases["untraced"])
    e2e["setup_s"] = (metrics.percentile(raw["setup_s"], 50) + raw["warmup_s"], "s")
    e2e["peak_rss_mb"] = (raw["peak_rss_mb"], "MB")
    lines = ["workload=%s seed=%s cores=%s shuffle_partitions=%s session+seeding_s=%s warmup_s=%.3f"
             % (args.workload, args.seed, raw["cores"], raw["shuffle_partitions"], raw["setup_s"],
                raw["warmup_s"])]
    lines += ["  %-28s %14.4f %s" % (k, v, u) for k, (v, u) in sorted({**e2e, **named}.items())]
    lines += ["  ops_failed_frac %.4f (%d of %d)" % (failed / max(1, len(ops)), failed, len(ops))]
    lines += ["  error: " + e for e in errors[:10]]
    if args.trace:
        out = metrics.per_layer(args.workload, phases["traced"])
        traced, _ = metrics.end_to_end(args.workload, phases["traced"])
        for k in ("latency_ms.p50", "latency_ms.tail", "throughput_per_s"):
            out["overhead." + k] = traced[k][0] - e2e[k][0]
        lines += ["  %-52s %16.4f" % kv for kv in sorted(out.items())]
    else:
        out = {k: v for k, (v, _) in e2e.items()}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    result = {m["name"]: {"value": out[m["name"]], "unit": m["unit"]} for m in declared}
    return {"correct": correct, "attempted": len(ops), "failed": failed, "metrics": result}, lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: graft sources not found; run from the root of a graft checkout")
    jars = spark_jars()
    build(jars)
    scratch = os.path.join(SCRATCH_BASE, "run-%d" % os.getpid())
    os.makedirs(scratch)
    try:
        raw = run_jvm(args, jars, scratch, time.monotonic() + RUN_TIMEOUT_S)
        if args.trace:  # keep the spans for inspection; the rest of the scratch goes
            shutil.copy(os.path.join(scratch, "raw.json"),
                        os.path.join(SCRATCH_BASE, "trace-%s-%d.json" % (args.workload, args.seed)))
        result, lines = report(args, raw)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        if os.path.isdir(SCRATCH_BASE) and not os.listdir(SCRATCH_BASE):
            os.rmdir(SCRATCH_BASE)
    log("\n".join(lines))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
