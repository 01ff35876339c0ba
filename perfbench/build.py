"""Compile the program and the benchmark harness from source.

The program (`src/main/scala`) and the harness (`perfbench/scala`) are
compiled with the Scala compiler that ships among Spark's jars, into
`.bench_build/perfbench/`, each keyed by a hash of its sources, so a later
run in the same checkout reuses them. Spark is found through `SPARK_HOME`
or the `spark-submit` on `PATH`.

    python3 perfbench/build.py      # prints the run classpath
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(RuntimeError):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise BuildError("no Spark jars found: set SPARK_HOME")
    return jars


def sources(top):
    found = []
    for d, _, files in os.walk(top):
        found += [os.path.join(d, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def digest(files, extra):
    h = hashlib.sha256("\n".join(extra).encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_tree(name, src_dir, classpath):
    files = sources(src_dir)
    if not files:
        raise BuildError(f"no sources under {os.path.relpath(src_dir, ROOT)}")
    out = os.path.join(BUILD, f"{name}-{digest(files, classpath)}")
    if os.path.exists(os.path.join(out, ".done")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    jars = [c for c in classpath if c.endswith(".jar")]
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", os.pathsep.join(classpath)] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError(f"compiling {name} failed:\n{proc.stdout[-4000:]}")
    open(os.path.join(out, ".done"), "w").close()
    return out


def build():
    """Returns the classpath (list) that runs the harness."""
    jars = spark_jars()
    main = compile_tree("main", os.path.join(ROOT, "src", "main"), jars)
    bench = compile_tree("harness", os.path.join(ROOT, "perfbench", "scala"), jars + [main])
    return jars + [main, bench]


if __name__ == "__main__":
    try:
        print(os.pathsep.join(build()))
    except BuildError as e:
        sys.exit(str(e))
