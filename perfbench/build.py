#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark's own Scala sources (perfbench/src) with the Scala compiler
that ships in the Spark distribution's jar directory.

Each of the two compile steps is keyed by a hash of its inputs and cached
under .bench_build/ in the checkout, so only the first run after a source
change pays for it. Usage:

    python3 perfbench/build.py        # prints the runtime classpath

Requires SPARK_HOME (or spark-submit on PATH) and a JDK (JAVA_HOME or
java on PATH).

The program is compiled here rather than through sbt because a benchmark
run reads and writes only inside its checkout, and sbt keeps its launcher,
dependency and compiler caches in the user's home directory. So that the
two builds cannot drift apart silently, build() refuses to compile when
build.sbt names another Scala version than the distribution's compiler or
sets scalacOptions, which this build does not pass.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def java_exe():
    home = os.environ.get("JAVA_HOME")
    if home and os.path.exists(os.path.join(home, "bin", "java")):
        return os.path.join(home, "bin", "java")
    exe = shutil.which("java")
    if not exe:
        raise BuildError("no java: set JAVA_HOME or put java on PATH")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("no Spark distribution: set SPARK_HOME")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars)
                  if j.endswith(".jar"))


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra):
    h = hashlib.sha256("\0".join(extra).encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_step(name, sources, classpath, key):
    """Compile `sources` into .bench_build/<name>-<key>/ unless cached."""
    out = os.path.join(BUILD_DIR, f"{name}-{key}")
    if os.path.exists(os.path.join(out, "ok")):
        return out
    if not sources:
        raise BuildError(f"{name}: no Scala sources found")
    for old in os.listdir(BUILD_DIR):  # finished builds of older sources
        if old.startswith(name + "-") and ".tmp" not in old:
            shutil.rmtree(os.path.join(BUILD_DIR, old), ignore_errors=True)
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp)
    compiler = [j for j in classpath if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = [java_exe(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
           "-cp", ":".join(compiler), "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", ":".join(classpath)] + sources
    print(f"[build] compiling {name}: {len(sources)} files", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"{name}: scalac exited {r.returncode}")
    open(os.path.join(tmp, "ok"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build of the same sources finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def check_sbt_settings(jars):
    """Fail when build.sbt compiles the program differently from this build."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    want = re.search(r'scalaVersion\s*:=\s*"([^"]+)"', sbt)
    have = [os.path.basename(j)[len("scala-compiler-"):-len(".jar")] for j in jars
            if os.path.basename(j).startswith("scala-compiler-")]
    if not want or not have or want.group(1) != have[0]:
        raise BuildError(f"build.sbt scalaVersion {want and want.group(1)} vs "
                         f"the Spark distribution's scala-compiler {have}")
    if "scalacOptions" in sbt:
        raise BuildError("build.sbt sets scalacOptions: pass them in perfbench/build.py")


def build():
    """Compile what is stale and return the runtime classpath entries."""
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise BuildError("build.sbt not found: run from a full checkout")
    main_src = scala_sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = scala_sources(os.path.join(HERE, "src"))
    if not main_src:
        raise BuildError("src/main/scala not found: run from a full checkout")
    jars = spark_jars()
    check_sbt_settings(jars)
    os.makedirs(BUILD_DIR, exist_ok=True)
    names = [os.path.basename(j) for j in jars]
    main_key = digest(main_src, names)
    main_out = compile_step("main", main_src, jars, main_key)
    bench_out = compile_step("bench", bench_src, [main_out] + jars,
                             digest(bench_src, names + [main_key]))
    resources = os.path.join(ROOT, "src", "main", "resources")
    return [bench_out, main_out, resources] + jars


if __name__ == "__main__":
    try:
        print(":".join(build()))
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(2)
