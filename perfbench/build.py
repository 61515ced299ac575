"""Build file of the benchmark: compiles graft's sources and the harness.

The classes go to ``.bench_build/classes`` at the root of the checkout
(or ``$CARGO_TARGET_DIR`` when set), compiled with the Scala compiler that
ships in Spark's jar directory, so the build reads nothing but the checkout
and the installed Spark. A content hash of every input skips the compile
when nothing changed.

    python3 perfbench/build.py      # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_homes():
    yield os.environ.get("SPARK_HOME")
    try:
        import pyspark  # a pip-installed Spark ships the same jar directory
        yield os.path.dirname(pyspark.__file__)
    except ImportError:
        pass


def spark_jars():
    """Spark's jar directory: $SPARK_HOME's, else the installed pyspark's."""
    for home in _spark_homes():
        if home and glob.glob(os.path.join(home, "jars", "spark-core_*.jar")):
            return os.path.join(home, "jars")
    raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "jvm", "*.scala")))


def build():
    """Compile if needed; returns the classpath entry of the classes."""
    srcs = sources()
    res = os.path.join(ROOT, "src/main/resources")
    h = hashlib.sha256()
    for f in srcs + sorted(glob.glob(os.path.join(res, "**/*"), recursive=True)):
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = os.path.join(build_dir(), "classes")
    stamp = os.path.join(build_dir(), "classes.sha256")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    argfile = os.path.join(build_dir(), "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars, "@" + argfile]
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: compile failed")
    if os.path.isdir(res):
        shutil.copytree(res, out, dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return out


if __name__ == "__main__":
    print(build())
