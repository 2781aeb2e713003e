"""Build file of the benchmark harness.

Compiles the library (`src/main/scala`) together with the harness
(`perfbench/harness`) with the Scala compiler that ships in the Spark
distribution's jars, into `perfbench/.build/classes`. A stamp of every
source file's path and bytes makes a rebuild happen only when a source
changed.

    python3 perfbench/build.py          # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
CLASSES = os.path.join(BUILD, "classes")


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the repository
    build's `unmanagedBase`."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def sources():
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"perfbench: library sources not found at {LIB_SRC}")
    out = []
    for top in (LIB_SRC, HARNESS_SRC):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def java_command(classpath, work, main, args):
    """A JVM for `main` whose scratch files (temp, Spark local dirs,
    warehouse) all stay under `work`. The --add-opens list, the default
    collector (G1) and -Xmx from SPARK_DRIVER_MEM (default 8g) match the
    repository build's forked runs."""
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return cmd + [
        f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}",
        "-cp", classpath, main] + list(args)


def build(log=sys.stderr):
    """Compile if any source changed; return the runtime classpath."""
    files = sources()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return classpath()
    print(f"perfbench: compiling {len(files)} Scala sources", file=log, flush=True)
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(CLASSES)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", jars, "@" + args_file]
    subprocess.run(cmd, check=True, stdout=log, stderr=log, timeout=850)
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
