"""Build file of the benchmark: compiles the program's main sources and the
harness into one class directory with the Scala compiler that ships in
the Spark distribution (`$SPARK_HOME/jars`), so no dependency resolution
runs. A stamp over the sources skips the compile when nothing changed.

    python3 perfbench/build.py        # prints the class directory
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SOURCES = os.path.join(HERE, "harness")


def build_dir():
    """`.bench_build` at the checkout root, or `$CARGO_TARGET_DIR` when the
    caller names a build directory."""
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: no Spark distribution found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit("perfbench: program sources missing: "
                         + os.path.relpath(PROGRAM_SOURCES, ROOT))
    out = []
    for top in (PROGRAM_SOURCES, HARNESS_SOURCES):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def classpath(classes):
    return classes + os.pathsep + os.path.join(spark_jars(), "*")


def build():
    """Compile if the sources changed since the last build; return the
    class directory."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    base = build_dir()
    classes = os.path.join(base, "classes")
    stamp_file = os.path.join(base, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, "scala-%s-2.13*.jar" % n))[0]
        for n in ("compiler", "library", "reflect"))
    args_file = os.path.join(base, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-cp", os.path.join(jars, "*"), "-d", classes,
           "-Ybackend-parallelism", "4", "@" + args_file]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


if __name__ == "__main__":
    print(build())
