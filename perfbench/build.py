"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark harness (`perfbench/scala`) with the Scala compiler that ships
among the Spark jars, into `.bench_build/perfbench/classes`.

A build is skipped when the sources hash to the stamp of the last build.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BUILD_DIR = os.path.join(".bench_build", "perfbench")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")


def spark_jars() -> str:
    """The Spark jars dir: build.sbt's `unmanagedBase`, else $SPARK_HOME/jars."""
    try:
        with open("build.sbt") as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    except OSError:
        m = None
    if m:
        jars = m.group(1)
    elif "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        raise SystemExit("build: no Spark jars dir in build.sbt and SPARK_HOME is unset")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler under {jars}")
    return os.path.join(jars, "*")


def sources() -> list:
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not files:
        raise SystemExit("build: no engine sources under src/main/scala; "
                         "run from the repository root")
    return files + sorted(glob.glob("perfbench/scala/**/*.scala", recursive=True))


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure() -> str:
    """Returns the classes dir, compiling first when the sources changed."""
    files = sources()
    want = digest(files)
    if os.path.isdir(CLASSES) and os.path.isfile(STAMP) and open(STAMP).read() == want:
        return CLASSES
    jars = spark_jars()
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "_javatmp"))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(tmp, '_javatmp')}",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", jars] + files
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    shutil.rmtree(os.path.join(tmp, "_javatmp"), ignore_errors=True)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit(f"build: scalac exited with {proc.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want)
    return CLASSES


if __name__ == "__main__":
    print(ensure())
