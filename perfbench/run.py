#!/usr/bin/env python3
"""Benchmark launcher: builds the program from source, runs one workload in
its own JVM, checks the outputs, and prints the result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md): sink_backfill, sink_stream,
short_queries, llm_operators. Run from the repository root. The build goes
to $CARGO_TARGET_DIR (default .bench_build), run files to .bench_out. The
last line of standard output is one JSON object with the keys correct,
attempted, failed and metrics: the end-to-end metrics of BENCHMARK.json
with --trace 0, its per-layer metrics with --trace 1. The exit code is
non-zero when the build or the run fails or an output check fails.
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
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ["sink_backfill", "sink_stream", "short_queries", "llm_operators"]
QUERY_WORKLOADS = {"short_queries", "llm_operators"}
HEAP = "3g"
# Spark task slots: two, whatever nproc says. The driver thread, the
# garbage collector and the JIT keep the other cores of a four-core host, so
# a core the host takes away for a moment delays one task, not every stage.
CORES = 2
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files += [os.path.join(base, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def fingerprint():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark once per source fingerprint;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not here")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java are needed to build and run the benchmark")
    out = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    out = out if os.path.isabs(out) else os.path.join(ROOT, out)
    os.makedirs(out, exist_ok=True)
    fp = fingerprint()
    stamp = os.path.join(out, "perfbench-classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            saved = json.load(fh)
        if saved.get("fingerprint") == fp:
            return saved["classpath"], fp
    env = dict(os.environ, COURSIER_MODE="offline", CARGO_TARGET_DIR=out)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            die("set SPARK_HOME, or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if not ln.startswith("[") and ".jar" in ln]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        die("build failed")
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    with open(stamp, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": cp[-1]}, fh)
    return cp[-1], fp


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7] if len(f) > 7 else 0, sum(f)


def git_commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, cores, out):
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-XX:ParallelGCThreads={CORES}",
           "-XX:ConcGCThreads=1", f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out,
            "--cores", str(cores), "--data", DATA]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(out, "spark-local"))
    log = open(os.path.join(os.path.dirname(out), f"{args.workload}.log"), "w")
    p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL)
    try:
        rc = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        die(f"the {args.workload} JVM ran longer than {JVM_TIMEOUT_S} s")
    finally:
        log.close()
    if rc != 0:
        with open(log.name) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        die(f"the {args.workload} JVM exited with {rc}")
    with open(os.path.join(out, "result.json")) as fh:
        return json.load(fh)


def oracle_check(results):
    """Runs the repository's DuckDB oracle check (tools/local_verify.py) on
    the query results the JVM wrote; returns its FAIL lines and summary."""
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "local_verify.py"), DATA, results],
                       cwd=ROOT, capture_output=True, text=True, timeout=JVM_TIMEOUT_S,
                       stdin=subprocess.DEVNULL)
    lines = p.stdout.splitlines()
    bad = [ln[len("FAIL "):] for ln in lines if ln.startswith("FAIL ")]
    if p.returncode != 0 and not bad:
        bad = [f"oracle check: exit {p.returncode}: {p.stderr.strip()[-300:]}"]
    return bad, (lines[-1].strip() if lines else "no output")


def fmt(v):
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("BENCHMARK.json is missing")
    with open(bench_json) as fh:
        spec = json.load(fh)
    cp, fp = build()

    cores = min(CORES, os.cpu_count() or 1)
    base = os.path.join(ROOT, ".bench_out")
    out = os.path.join(base, args.workload)
    load_start = loadavg()
    steal0, total0 = cpu_ticks()
    res = run_jvm(cp, args, cores, out)
    steal1, total1 = cpu_ticks()
    failures = list(res["failures"])
    failed = res["failed"]
    attempted = res["attempted"]
    if args.workload in QUERY_WORKLOADS:
        bad, summary = oracle_check(os.path.join(out, "results"))
        failures += bad
        failed += len({b.split(":")[0] for b in bad} - set(res["failures"]))
        res["notes"]["oracle"] = summary
    e2e = dict(res["end_to_end"])
    e2e["ok_share"] = 1.0 - failed / max(1, attempted)
    context = {"nproc": os.cpu_count(), "cores": cores, "heap": HEAP,
               "loadavg_start": load_start, "loadavg_end": loadavg(),
               "cpu_steal_share": round((steal1 - steal0) / max(1, total1 - total0), 4),
               "commit": git_commit(), "source_sha1": fp,
               "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
               "trace": args.trace}

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for k, v in context.items():
        print(f"context {k}: {v}")
    for k, v in res["notes"].items():
        print(f"note {k}: {v}")
    for f in failures:
        print(f"FAILED {f}")
    for k, v in e2e.items():
        print(f"{'traced ' if args.trace else ''}end_to_end {k} = {fmt(v)} {units.get(k, '')}")

    os.makedirs(os.path.join(base, "last"), exist_ok=True)
    last = os.path.join(base, "last", f"{args.workload}.json")
    if args.trace:
        for k, v in res["per_layer"].items():
            print(f"per_layer {k} = {fmt(v)} {units.get(k, '')}")
        if os.path.exists(last):
            with open(last) as fh:
                untraced = json.load(fh)["end_to_end"]
            for k, v in e2e.items():
                if k in untraced and untraced[k]:
                    print(f"tracing overhead {k}: traced {fmt(v)} - untraced {fmt(untraced[k])} "
                          f"= {fmt(v - untraced[k])} ({(v / untraced[k] - 1) * 100:+.1f}%)")
        else:
            print("tracing overhead: no untraced run of this workload in this checkout yet")
    else:
        with open(last, "w") as fh:
            json.dump({"context": context, "end_to_end": e2e}, fh)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["per_layer"] if args.trace else e2e
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        die(f"the run did not produce {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
