"""Build file of the benchmark package: compiles the program (src/main) and
the benchmark's Scala sources (perfbench/src) with the Scala compiler that
ships in Spark's jar directory ($SPARK_HOME/jars, the same directory the
program's build.sbt links against).

Output goes to <checkout>/.bench_build: `program/` and `harness/` class
directories, each rebuilt only when the hash of its sources changes.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""

import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jar directory not found (set SPARK_HOME)")
    return jars


def sources(root):
    out = []
    for d, _, files in os.walk(root):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_stage(name, srcs, classpath, resources=None):
    dest = os.path.join(OUT, name)
    stamp = os.path.join(dest, ".stamp")
    extra = []
    if resources and os.path.isdir(resources):
        for d, _, files in os.walk(resources):
            extra.extend(os.path.join(d, f) for f in files)
    key = digest(srcs + sorted(extra))
    if os.path.exists(stamp) and open(stamp).read() == key:
        return dest
    shutil.rmtree(dest, ignore_errors=True)
    os.makedirs(dest)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", classpath, "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("perfbench: compiling %s failed" % name)
    for p in extra:
        target = os.path.join(dest, os.path.relpath(p, resources))
        os.makedirs(os.path.dirname(target), exist_ok=True)
        shutil.copyfile(p, target)
    with open(stamp, "w") as f:
        f.write(key)
    return dest


def build():
    """Compile what changed; return the runtime classpath."""
    main = os.path.join(ROOT, "src", "main")
    program_srcs = sources(os.path.join(main, "scala"))
    if not program_srcs:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    jars = os.path.join(spark_jars(), "*")
    program = compile_stage("program", program_srcs, jars, os.path.join(main, "resources"))
    harness = compile_stage("harness", sources(os.path.join(HERE, "src")),
                            program + os.pathsep + jars)
    return os.pathsep.join([harness, program, jars])


if __name__ == "__main__":
    print(build())
