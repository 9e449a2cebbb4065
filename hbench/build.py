"""Builds the benchmark: compiles the repository's Scala sources together
with the benchmark's own (`hbench/src`) against the Spark distribution's
jars, with the Scala compiler those jars ship.

    python3 hbench/build.py        # prints the classpath to run with

Output goes to `$CARGO_TARGET_DIR/hbench` (default `.bench_build/hbench`
at the repository root) and is rebuilt only when a source file changes.
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def build_dir():
    base = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    return os.path.join(os.path.abspath(base), "hbench")


def sources():
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    if not program:
        raise BuildError("no program sources under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return program + bench


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(path.encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    classpath = classes + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", fresh,
           "-classpath", os.path.join(jars, "*"), "@" + args_file]
    print("[hbench] compiling %d sources" % len(srcs), file=sys.stderr)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        raise BuildError("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("[hbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(1)
