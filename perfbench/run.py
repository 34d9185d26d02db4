#!/usr/bin/env python3
"""The engine's benchmark: one command, three workloads, checked outputs.

    python3 perfbench/run.py --workload {ingest,serve,registry,all}
                             [--seed N] [--seconds S] [--trace 0|1]

Run it from the root of the repository. The first run builds the engine's
sources together with the benchmark's (`perfbench/build.sbt`, sbt offline);
later runs reuse the build while no source changed. Each run makes its
inputs from `--seed`, gets its own fresh state (artifact store, lake,
aggregates, checkpoints, star schema, Spark local dirs) under
`.perfbench_work/`, and removes it when it ends.

The last line of standard output is one JSON object:
`{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}`. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json; with
`--trace 1` they are its per-layer metrics (0 for a layer the workload does
not reach), and the spans are written to `.perfbench_work/traces/`. The line
before it carries the workload's own named figures, sample counts, the
session recipe and any failed checks.

`--record-expected` re-records `perfbench/expected/registry.tsv` (row
counts and checksums of the registry slice, at N cores and at one core).
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
import time
import zipfile

import inputs

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")
WORKLOADS = ("ingest", "serve", "registry")
RUN_LIMIT_S = 170  # a run (after any build) must end well inside 180 s

# Staged micro-batch files: one per second of --seconds, at least four. One
# 1,000-event file is one second of a shard at the reference's ceiling
# (BASELINE.md).
INGEST_MIN_FILES = 4

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_stamp():
    """Digest of every source file the build compiles (path, size, mtime)."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src"),
                 os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
                 os.path.join(ROOT, "build.sbt")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile (when sources changed) and return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src/main/scala; run from the repository root")
    target = os.path.join(BENCH, "target")
    cp_file, stamp_file = os.path.join(target, "perfbench.classpath"), os.path.join(target, "perfbench.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    repos = os.path.expanduser("~/.sbt/repositories")
    os.makedirs(os.path.join(target, "tmp"), exist_ok=True)
    sbt_opts = ["-Dsbt.offline=true", "-Xmx3g", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={os.path.join(target, 'tmp')}"]
    if os.path.exists(repos):
        sbt_opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(sbt_opts))
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=800)
    lines = proc.stdout.splitlines()
    cps = [l for l in lines if "scala-2.13" in l and os.pathsep in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        print("\n".join(lines[-40:]), file=sys.stderr)
        fail("build failed", 3)
    cp = jar_directories(cps[-1].strip().split(os.pathsep), target)
    dump_archive(cp, os.path.join(target, "perfbench.jsa"))
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def jar_directories(entries, target):
    """Class directories on the classpath, packed as jars: the JVM's
    class-data archive accepts only jars."""
    out = []
    for i, e in enumerate(entries):
        if os.path.isdir(e):
            jar = os.path.join(target, f"perfbench-classes-{i}.jar")
            with zipfile.ZipFile(jar + ".tmp", "w") as z:
                for d, _, fs in os.walk(e):
                    for f in sorted(fs):
                        p = os.path.join(d, f)
                        z.write(p, os.path.relpath(p, e))
            os.replace(jar + ".tmp", jar)
            e = jar
        out.append(e)
    return os.pathsep.join(out)


def dump_archive(cp, jsa):
    """Record the classes a small run of every workload loads into a
    class-data archive, which later runs map instead of loading and
    verifying those classes again. Without it runs are slower, not wrong."""
    if os.path.exists(jsa):
        os.remove(jsa)
    run_dir = os.path.join(WORK, f"archive-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        ins = os.path.join(run_dir, "inputs")
        inputs.ingest(os.path.join(ins, "ingest"), 0, 2)
        inputs.serve(os.path.join(ins, "serve"), 0, n_users=200, n_ops=40)
        inputs.registry(os.path.join(ins, "registry"), 0, read_expected_names(), n_orders=3)
        java(cp, ["--workload", "warmup", "--work", os.path.join(run_dir, "work"), "--inputs", ins,
                  "--bench", BENCH, "--seconds", "0.5", "--setups", "1", "--cores", str(cores())],
             run_dir, time.monotonic() + 600, [f"-XX:ArchiveClassesAtExit={jsa}"])
    except SystemExit:
        print("perfbench: no class-data archive; runs start slower", file=sys.stderr)
        if os.path.exists(jsa):
            os.remove(jsa)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def read_expected_names():
    path = os.path.join(BENCH, "expected", "registry.tsv")
    with open(path) as f:
        return [l.split("\t")[0] for l in f if l.strip() and not l.startswith("#")]


def make_inputs(workload, seed, seconds, out):
    if workload == "ingest":
        n = max(INGEST_MIN_FILES, math.ceil(seconds))
        inputs.ingest(os.path.join(out, "ingest"), seed, n)
    elif workload == "serve":
        inputs.serve(os.path.join(out, "serve"), seed)
    else:
        inputs.registry(os.path.join(out, "registry"), seed, read_expected_names())


def java(cp, args, run_dir, deadline, flags=None):
    """Run perfbench.Main in its own process group; return its stdout."""
    jsa = os.path.join(BENCH, "target", "perfbench.jsa")
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else []
    cmd = ["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:+UseG1GC", "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:-UsePerfData",
        "-Xlog:disable", f"-Djava.io.tmpdir={run_dir}/tmp",
        "-Dspark.ui.enabled=false"] + flags + ["-cp", cp, "perfbench.Main"] + args
    os.makedirs(f"{run_dir}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CACHE_DIR=os.path.join(run_dir, "derived"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "work", "spark-local"))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                             stdout=subprocess.PIPE, stderr=log, text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(5.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded its time limit", 4)
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0:
        with open(log_path) as f:
            tail = f.read().splitlines()[-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"JVM exited with code {p.returncode}", 5)
    return out


def cpu_steal_s():
    """Seconds of CPU time the hypervisor gave to others (Linux, all CPUs)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return float("nan")


def run_one(spec, cp, workload, seed, seconds, trace, deadline):
    run_dir = os.path.join(WORK, f"run-{workload}-s{seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.monotonic()
        make_inputs(workload, seed, seconds, os.path.join(run_dir, "inputs"))
        gen_s = time.monotonic() - t0
        trace_file = os.path.join(WORK, "traces", f"{workload}-seed{seed}.jsonl")
        steal0 = cpu_steal_s()
        out = java(cp, ["--workload", workload, "--work", os.path.join(run_dir, "work"),
                        "--inputs", os.path.join(run_dir, "inputs"), "--bench", BENCH,
                        "--seconds", str(seconds), "--trace", str(trace), "--seed", str(seed),
                        "--cores", str(cores()), "--trace-file", trace_file],
                   run_dir, deadline)
        steal = cpu_steal_s() - steal0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    found = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not found:
        fail("the JVM printed no result", 5)
    res = json.loads(found[-1][len("PERFBENCH_RESULT "):])
    kind = "per_layer" if trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        v = res[kind].get(m["name"], 0.0 if trace else None)
        if v is None:
            fail(f"{workload} did not report {m['name']}", 6)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    problems = res["problems"]
    correct = res["failed"] == 0 and not problems and all(
        isinstance(x["value"], (int, float)) and math.isfinite(x["value"]) for x in metrics.values())
    detail = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "input_generation_s": gen_s, "jvm_s": res["jvm_s"], "jvm_cpu_s": res["jvm_cpu_s"],
              "jit_cpu_s": res["jit_cpu_s"], "cpu_steal_s": steal,
              "session": res["session"],
              "detail": res["detail"], "problems": problems}
    result = {"correct": correct, "attempted": int(res["attempted"]), "failed": int(res["failed"]),
              "metrics": metrics}
    return detail, result


def record_expected(cp):
    """Re-record expected/registry.tsv at N cores and at one core; a query
    whose checksum differs between the two is marked nondeterministic."""
    names = inputs.REGISTRY_SLICE
    rows = {}
    for n in (cores(), 1):
        run_dir = os.path.join(WORK, f"record-{n}-p{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        out = os.path.join(run_dir, "expected.tsv")
        try:
            java(cp, ["--workload", "record-registry", "--work", os.path.join(run_dir, "work"),
                      "--inputs", run_dir, "--bench", BENCH, "--cores", str(n),
                      "--names", ",".join(names), "--out", out], run_dir, time.monotonic() + 1500)
            with open(out) as f:
                rows[n] = [l.rstrip("\n").split("\t") for l in f]
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    a, b = rows[cores()], rows[1]
    path = os.path.join(BENCH, "expected", "registry.tsv")
    with open(path, "w") as f:
        f.write("# name\tfamily\trows\tchecksum\tdeterminism (sf0.001; see perfbench/README.md)\n")
        for x, y in zip(a, b):
            if x[2] != y[2]:
                fail(f"{x[0]} returns {x[2]} rows at {cores()} cores and {y[2]} at one core", 7)
            det = "deterministic" if x[3] == y[3] else "nondeterministic"
            f.write("\t".join(x + [det]) + "\n")
    print(f"wrote {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found; run from the repository root")
    with open(spec_path) as f:
        spec = json.load(f)
    cp = build()
    if a.record_expected:
        record_expected(cp)
        return
    if not a.workload:
        fail("--workload is required")
    seconds = a.seconds if a.seconds is not None else spec["run_seconds"]
    deadline = time.monotonic() + RUN_LIMIT_S
    if a.workload != "all":
        detail, result = run_one(spec, cp, a.workload, a.seed, seconds, a.trace, deadline)
        print(json.dumps(detail))
        print(json.dumps(result))
        return
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        detail, result = run_one(spec, cp, w, a.seed, seconds, a.trace,
                                 time.monotonic() + RUN_LIMIT_S)
        print(json.dumps(detail))
        print(json.dumps(result))
        combined["correct"] &= result["correct"]
        combined["attempted"] += result["attempted"]
        combined["failed"] += result["failed"]
        combined["metrics"].update({f"{w}.{k}": v for k, v in result["metrics"].items()})
    print(json.dumps(combined))


if __name__ == "__main__":
    main()
