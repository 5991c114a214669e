"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) into one class directory with
the Scala compiler that ships in Spark's jars directory.

The output lives under .bench_build/ and is keyed by a digest of every
source file, so an unchanged tree is not compiled twice.

Usage: python3 perfbench/build.py   (prints the class directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(ROOT, "perfbench", "harness")

# The same module options build.sbt gives forked JVMs: Spark 4 on JDK 17
# needs them when a session is created outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("no java executable (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("SPARK_HOME is not set and spark-submit is not on PATH")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        raise BuildError("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HARNESS, "*.scala")))


def jvm_options(work, heap):
    """Options of a workload JVM: a fixed heap, JDK 17 module opens, and
    no files outside the work directory (temp files inside it, no JVM
    performance-data file)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [*opens, f"-Xms{heap}", f"-Xmx{heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(spark_jars(), "*")])


def build():
    """Compile when the sources changed; return the class directory."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    proc = subprocess.run(
        [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", tmp, "-classpath", cp, "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    if proc.returncode != 0:
        raise BuildError("compile failed:\n" + proc.stdout[-4000:])
    with open(os.path.join(tmp, ".complete"), "w") as f:
        f.write("ok\n")
    os.rename(tmp, out)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
