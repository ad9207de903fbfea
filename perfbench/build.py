"""Build file of the benchmark: compiles the repo's main sources together
with the benchmark's own Scala sources into one class directory, using the
Scala compiler that ships with Spark (no sbt, no dependency resolution).

Outputs live in the build directory (``.bench_build``, or the directory
named by CARGO_TARGET_DIR) and are keyed by a hash of every source file, so
only the first run in a checkout builds.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt declares as its
    unmanaged base (the one place the repo names its Spark distribution).
    """
    if "SPARK_HOME" in os.environ:
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise FileNotFoundError("no Spark jars: set SPARK_HOME")
    return m.group(1)


HEAP = "2g"

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def _out(name):
    return os.path.join(build_dir(), name)


def java_cmd(tmp_dir):
    """The benchmark JVM's command prefix, up to the main class."""
    # -UsePerfData: no hsperfdata file outside the checkout
    return (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
             f"-Djava.io.tmpdir={tmp_dir}",
             "-cp", os.pathsep.join([_out("classes"), os.path.join(_spark_jars(), "*")]),
             "perfbench.BenchMain"])


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise FileNotFoundError(f"no Scala sources under {ROOT}/src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def _compile(srcs):
    classes = _out("classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    with open(_out("sources.txt"), "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(["java", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
                        "-cp", os.path.join(_spark_jars(), "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", classes,
                        "-classpath", os.path.join(_spark_jars(), "*"), "@" + _out("sources.txt")],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise RuntimeError("compilation failed")


def build():
    """Compile if the sources changed."""
    srcs = sources()
    digest = hashlib.sha256()
    for p in srcs:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    key = digest.hexdigest()
    stamp = _out("build.sha256")
    if not (os.path.exists(stamp) and open(stamp).read() == key):
        os.makedirs(build_dir(), exist_ok=True)
        if os.path.exists(stamp):
            os.remove(stamp)
        _compile(srcs)
        with open(stamp, "w") as f:
            f.write(key)


if __name__ == "__main__":
    build()
    print(_out("classes"))
