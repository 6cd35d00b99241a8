#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from the checkout's sources (perfbench/build.py), then
runs one workload in ONE JVM: a single closed-loop client on
graft.Engine.session(nproc). Human-readable lines (every metric by name
with its unit, the correctness verdict, the run's stamps) go to stdout,
and the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. `--workload all` runs every workload in turn. Workloads, metrics
and the layer predictions are documented in perfbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ["mwa_ingest", "llm_dedup", "catalog_mix", "mwa_flag"]
HEAP = "2g"
JVM_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def run_one(classpath, workload, seed, seconds, trace):
    work = os.path.join(build.BUILD_DIR, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = [build.java_exe(), f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData",
           *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", ":".join(classpath), "graftbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--work", work, "--heap", HEAP,
           "--python", sys.executable,
           "--oracle", os.path.join(HERE, "oracle.py"),
           "--trace-out", os.path.join(build.BUILD_DIR, "traces",
                                       f"{workload}-seed{seed}.json")]
    # the older Bench harness reads SPARK_GRAFT_* knobs; none reach this run
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    # own process group, so a timeout also stops the JVM's oracle children
    proc = subprocess.Popen(cmd, cwd=build.ROOT, env=env, text=True,
                            stdout=subprocess.PIPE, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[run] {workload}: timed out after {JVM_TIMEOUT_S}s",
              file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    for line in lines:
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        print(f"[run] {workload}: JVM exited {proc.returncode}",
              file=sys.stderr)
        return None
    return result


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = p.parse_args()
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        return 2
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = {}
    for w in names:
        r = run_one(classpath, w, a.seed, a.seconds, a.trace)
        if r is None:
            return 1
        results[w] = r
    last = results[names[0]] if len(names) == 1 else results
    print(json.dumps(last, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
