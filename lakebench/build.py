#!/usr/bin/env python3
"""Build file of the lakehouse benchmark.

Compiles graft (src/main/scala plus its resources) and the benchmark
(lakebench/src) with the Scala compiler that ships in Spark's jar
directory (the one build.sbt compiles against), into a directory keyed by a digest of every source file, and
returns the runtime classpath. A build whose digest already exists is
reused. Everything it writes stays under the build directory it is given.

Usage: python3 lakebench/build.py [BUILD_DIR]   (from the repo root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def spark_jars(root):
    """Spark's jar directory: the one graft's build.sbt compiles against
    (`unmanagedBase := file("...")`), else $SPARK_HOME/jars."""
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    return os.path.join(os.environ.get("SPARK_HOME", ""), "jars")


def scala_files(top):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(out)


def resource_files(top):
    out = []
    for d, _, names in os.walk(top):
        out += [os.path.join(d, n) for n in names]
    return sorted(out)


def digest(paths, root):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_scala(jars, srcs, classpath, out, log):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars + "/*",
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-cp", classpath, "@" + argfile]
    with open(log, "a") as lf:
        r = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT)
    os.remove(argfile)
    if r.returncode != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise RuntimeError(f"scalac failed ({r.returncode}), see {log}")


def build(root, build_dir):
    """Compile what changed; return the classpath for `java -cp`."""
    jars = spark_jars(root)
    graft_src = os.path.join(root, "src", "main", "scala")
    graft_res = os.path.join(root, "src", "main", "resources")
    graft = scala_files(graft_src)
    res = resource_files(graft_res) if os.path.isdir(graft_res) else []
    bench = scala_files(os.path.join(BENCH_DIR, "src"))
    gkey = digest(graft + res, root)
    bkey = gkey + "-" + digest(bench, root)
    graft_out = os.path.join(build_dir, "graft-" + gkey)
    bench_out = os.path.join(build_dir, "bench-" + bkey)
    os.makedirs(build_dir, exist_ok=True)
    for old in os.listdir(build_dir):
        p = os.path.join(build_dir, old)
        if old.split("-")[0] in ("graft", "bench") and p not in (
                graft_out, bench_out):
            shutil.rmtree(p, ignore_errors=True)
    log = os.path.join(build_dir, "build.log")
    if not os.path.exists(os.path.join(graft_out, "OK")):
        shutil.rmtree(graft_out, ignore_errors=True)
        sys.stderr.write(f"[lakebench] compiling {len(graft)} graft "
                         f"sources into {graft_out}\n")
        compile_scala(jars, graft, jars + "/*", graft_out, log)
        for p in res:
            dst = os.path.join(graft_out, os.path.relpath(p, graft_res))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        open(os.path.join(graft_out, "OK"), "w").close()
    if not os.path.exists(os.path.join(bench_out, "OK")):
        shutil.rmtree(bench_out, ignore_errors=True)
        sys.stderr.write(f"[lakebench] compiling {len(bench)} benchmark "
                         f"sources into {bench_out}\n")
        compile_scala(jars, bench, os.pathsep.join([graft_out, jars + "/*"]),
                      bench_out, log)
        open(os.path.join(bench_out, "OK"), "w").close()
    return os.pathsep.join([bench_out, graft_out, jars + "/*"])


if __name__ == "__main__":
    root = os.getcwd()
    target = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        root, ".bench_build", "lakebench")
    print(build(root, os.path.abspath(target)))
