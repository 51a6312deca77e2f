"""Build file of the benchmark package.

Compiles the program (``src/main/scala`` plus ``src/main/resources``)
together with the benchmark's own sources (``perfbench/src``) into
``.bench_build/classes`` with the Scala compiler that ships among the Spark
jars the program's build uses, then writes the benchmark's input tables into
``.bench_build/data``. Both steps are skipped when a stamp of their inputs
is unchanged.

    python3 perfbench/build.py        # build, then print the classpath
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
DATA = os.path.join(BUILD, "data")
LOGS = os.path.join(BUILD, "logs")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")

# Spark 4 on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar")
]


class BuildError(Exception):
    pass


def program_present():
    return os.path.isdir(PROGRAM_SRC) and os.path.isfile(os.path.join(ROOT, "build.sbt"))


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the program's own
    ``unmanagedBase`` from build.sbt."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("no Spark jars: set SPARK_HOME or unmanagedBase in build.sbt")
    return m.group(1)


def _files(*dirs, suffix=""):
    out = []
    for d in dirs:
        for base, _, names in os.walk(d):
            out += [os.path.join(base, n) for n in names if n.endswith(suffix)]
    return sorted(out)


def _stamp(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def _read(path):
    try:
        with open(path) as f:
            return f.read().strip()
    except OSError:
        return None


def _run(cmd, log, cwd=None, timeout=840):
    with open(log, "w") as out:
        p = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd, timeout=timeout)
    if p.returncode != 0:
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BuildError(f"{cmd[0]} exited {p.returncode}; log {log}:\n{tail}")


def classpath(jars):
    return CLASSES + os.pathsep + os.path.join(jars, "*")


def compile_classes(jars):
    sources = _files(PROGRAM_SRC, BENCH_SRC, suffix=".scala")
    resources = _files(PROGRAM_RES) if os.path.isdir(PROGRAM_RES) else []
    stamp = _stamp(sources + resources, extra="\n".join(sorted(os.listdir(jars))))
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if _read(stamp_file) == stamp and os.path.isdir(CLASSES):
        return
    tmp = f"{CLASSES}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    jar_glob = os.path.join(jars, "*")
    _run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jar_glob,
          "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", jar_glob, "@" + argfile],
         os.path.join(LOGS, "compile.log"))
    for r in resources:
        dst = os.path.join(tmp, os.path.relpath(r, PROGRAM_RES))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(r, dst)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_cmd(jars, heap, work, main_args):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # The JVM's default JIT (C1, then C2) and collector, as the program
    # runs. The heap starts small and grows with demand up to `heap`.
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    return (["java", "-XX:-UsePerfData", "-Xms256m", f"-Xmx{heap}", "-Xss4m",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-Duser.timezone=UTC", "-Dspark.ui.enabled=false"]
            + ADD_OPENS
            + ["-cp", classpath(jars), "perfbench.Main"] + main_args)


def generate_data(jars):
    stamp = _stamp([os.path.join(BENCH_SRC, "perfbench", "DataGen.scala")],
                   extra="\n".join(sorted(os.listdir(jars))))
    stamp_file = os.path.join(BUILD, "data.stamp")
    if _read(stamp_file) == stamp and os.path.isdir(DATA):
        return
    tmp = f"{DATA}.tmp{os.getpid()}"
    work = os.path.join(BUILD, "datagen")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _run(java_cmd(jars, "2g", work, ["--mode", "datagen", "--data", tmp, "--work", work]),
         os.path.join(LOGS, "datagen.log"), cwd=work)
    shutil.rmtree(DATA, ignore_errors=True)
    os.rename(tmp, DATA)
    shutil.rmtree(work, ignore_errors=True)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    """Builds what is stale; returns the Spark jar directory."""
    if not program_present():
        raise BuildError(f"program sources not found under {ROOT}")
    os.makedirs(LOGS, exist_ok=True)
    jars = spark_jars()
    compile_classes(jars)
    generate_data(jars)
    return jars


if __name__ == "__main__":
    try:
        print(classpath(build()))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
