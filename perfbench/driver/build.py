"""Build file of the benchmark's driver package.

Compiles the program with sbt, reading its `run / javaOptions` and runtime
classpath as sbt reports them (so the driver JVM starts exactly as `sbt run`
would, with SPARK_DRIVER_MEM fitted to the host), then compiles
PerfDriver.java against that classpath with javac. The result is cached
under <work>/build on a digest of the program's and the driver's sources.

Usage, from the root of a checkout: python3 perfbench/driver/build.py
"""
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def sh(cmd, root, env=None, timeout=None):
    r = subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True, timeout=timeout)
    if r.returncode != 0:
        raise BuildError(f"{cmd[0]} failed ({r.returncode}):\n{(r.stdout + r.stderr)[-3000:]}")
    return r.stdout


def heap_size():
    """A driver heap that fits the host: a third of physical memory, 2-24 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(2, min(24, kb // (3 * 1024 * 1024)))}g"


def tree_digest(root, paths):
    h = hashlib.sha256()
    for top in paths:
        full = os.path.join(root, top)
        files = [full] if os.path.isfile(full) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(full) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root, work, log):
    """Compile the program and the driver; returns {digest, heap, java_options, classpath}."""
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/diffcheck.py"):
        if not os.path.exists(os.path.join(root, need)):
            raise BuildError(f"{need} not found: run from the root of a graft checkout")
    for tool in ("sbt", "javac", "java"):
        if shutil.which(tool) is None:
            raise BuildError(f"{tool} not on PATH")
    heap = heap_size()
    src = ["build.sbt", "project/build.properties", "src/main",
           os.path.relpath(os.path.join(HERE, "PerfDriver.java"), root),
           os.path.relpath(__file__, root)]
    digest = tree_digest(root, [p for p in src if os.path.exists(os.path.join(root, p))]) + heap
    out = os.path.join(work, "build")
    meta_path = os.path.join(out, "build.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta["digest"] == digest:
            return meta
    log("building the program (sbt) and the driver (javac)")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    text = sh(["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
               f"-Dsbt.global.base={os.path.join(work, 'sbt-global')}",
               "compile", "show run/javaOptions", "export Runtime/fullClasspath"], root,
              env=dict(os.environ, SPARK_DRIVER_MEM=heap), timeout=840)
    lines = text.splitlines()
    opts = [m.group(1) for m in (re.match(r"^\[info\] \* (.*)$", ln) for ln in lines) if m]
    cps = [ln for ln in lines if not ln.startswith("[") and "scala-2.13/classes" in ln]
    if not opts or not cps:
        raise BuildError("could not read run/javaOptions and the runtime classpath from sbt")
    classes = os.path.join(out, "classes")
    sh(["javac", "-nowarn", "-d", classes, "-cp", cps[-1], os.path.join(HERE, "PerfDriver.java")], root)
    meta = {"digest": digest, "heap": heap, "java_options": opts,
            "classpath": cps[-1] + os.pathsep + classes}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    return meta


if __name__ == "__main__":
    work = os.path.abspath(os.path.join(os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench"))
    try:
        print(json.dumps(build(os.getcwd(), work, lambda m: print(m, file=sys.stderr))))
    except BuildError as e:
        print(f"error: {e}", file=sys.stderr)
        sys.exit(2)
