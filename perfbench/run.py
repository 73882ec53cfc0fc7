#!/usr/bin/env python3
"""Run one workload of the store benchmark and print its result line.

    python3 perfbench/run.py --workload serve|gates --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the library
(src/main/scala) and the benchmark (perfbench/src) with the Scala
compiler that ships among the Spark jars named by build.sbt's
`unmanagedBase`, into $CARGO_TARGET_DIR (default .bench_build); later
runs reuse the classes while the sources are unchanged. The workload
runs in one JVM; its last stdout line is the result JSON, printed here
as the last line. Scratch data lives in .bench_work/ and is deleted on
exit; a traced run keeps its spans in .bench_trace/.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
WORKLOADS = ("serve", "gates")
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the sbt build compiles against."""
    if not os.path.isfile("build.sbt"):
        fail("no build.sbt here: run from the root of a checkout")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    if not m or not glob.glob(os.path.join(m.group(1), "scala-compiler-*.jar")):
        fail("build.sbt names no jar directory with a Scala compiler")
    return m.group(1)


def sources(root):
    out = []
    for dirpath, _, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(out)


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(jars, out, files, classpath, extra=""):
    """Compile `files` into `out` unless `out` was built from the same sources."""
    st = stamp(files, classpath + extra)
    marker = os.path.join(out, ".stamp")
    if os.path.isfile(marker) and open(marker).read() == st:
        return st
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = ":".join(glob.glob(os.path.join(jars, f"scala-{p}-*.jar"))[0]
                        for p in ("compiler", "library", "reflect"))
    argfile = os.path.join(out, ".sources")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-d", out, "-classpath", classpath, "@" + argfile]
    print(f"perfbench: compiling {len(files)} files into {out}", file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail(f"compilation into {out} failed")
    with open(marker, "w") as fh:
        fh.write(st)
    return st


def build():
    """Compile the library and the benchmark; returns the classpath."""
    jars = spark_jars()
    main_src = sources("src/main/scala")
    bench_src = sources("perfbench/src")
    if not main_src or not bench_src:
        fail("library or benchmark sources missing")
    target = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    main_out = os.path.join(target, "classes-main")
    bench_out = os.path.join(target, "classes-bench")
    jar_cp = os.path.join(jars, "*")
    main_stamp = compile_scala(jars, main_out, main_src, jar_cp)
    compile_scala(jars, bench_out, bench_src, f"{main_out}:{jar_cp}", main_stamp)
    return f"{bench_out}:{main_out}:{jar_cp}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    classpath = build()
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dperfbench.dir={os.path.abspath('perfbench')}",
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work])
    t0 = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload did not finish within {JVM_TIMEOUT_S} s")
    lines = [l for l in out.splitlines() if l.strip()]
    if a.trace:
        trace = os.path.join(work, f"trace-{a.workload}.jsonl")
        if os.path.isfile(trace):
            os.makedirs(".bench_trace", exist_ok=True)
            shutil.copy(trace, os.path.join(".bench_trace", f"{a.workload}-seed{a.seed}.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not lines:
        fail(f"workload exited with code {proc.returncode}")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line")
    if os.path.isfile("BENCHMARK.json"):
        declared = json.load(open("BENCHMARK.json"))["per_layer" if a.trace else "end_to_end"]
        if {m["name"]: m["unit"] for m in declared} != \
                {k: v["unit"] for k, v in result["metrics"].items()}:
            fail("metrics differ from those BENCHMARK.json declares")
    print(f"perfbench: {a.workload} ran {time.time() - t0:.1f} s", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
