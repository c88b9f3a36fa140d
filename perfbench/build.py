"""Build file of the benchmark: compiles graft's main sources together with
the benchmark JVM program (perfbench/scala) into one jar, with the Scala
compiler that ships in Spark's jar directory. No sbt, no network.

    python3 perfbench/build.py          # build if stale, print the jar

The jar goes to <repo>/.bench_build/graft.jar and is rebuilt only when a
source file or the toolchain changes. A rebuild also drops the JVM
class-data archive (perfbench.jsa) that run.py records next to the jar.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(REPO, ".bench_build")


class BuildError(Exception):
    pass


def sources():
    main = os.path.join(REPO, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError("graft sources not found at %s" % main)
    srcs = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not srcs:
        raise BuildError("no Scala sources")
    return srcs


def spark_jar_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(REPO, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise BuildError("set SPARK_HOME: build.sbt names no Spark jar directory")
    return m.group(1)


def spark_jars():
    d = spark_jar_dir()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not any(os.path.basename(j).startswith("spark-sql_") for j in jars):
        raise BuildError("Spark jars not found in %s (set SPARK_HOME)" % d)
    return jars


def classpath(jar):
    """The benchmark JVM's class path: jars only, listed one by one in a fixed
    order, as the JVM's class-data archives require."""
    return os.pathsep.join([jar] + spark_jars())


def _stamp(srcs):
    h = hashlib.sha256()
    java = subprocess.run(["java", "-version"], capture_output=True, text=True)
    h.update(java.stderr.encode())
    h.update("\n".join(os.path.basename(j) for j in spark_jars()).encode())
    for s in srcs:
        h.update(os.path.relpath(s, REPO).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(log=sys.stderr):
    """Returns the jar, compiling first when it is stale."""
    srcs = sources()
    jars = spark_jars()
    jar = os.path.join(OUT, "graft.jar")
    stamp = _stamp(srcs)
    stamp_file = os.path.join(OUT, "graft.stamp")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return jar
    os.makedirs(OUT, exist_ok=True)
    for stale in glob.glob(os.path.join(OUT, "*.jsa*")):
        os.remove(stale)
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(OUT, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs))
    print("[perfbench] compiling %d sources" % len(srcs), file=log)
    r = subprocess.run(
        # an explicit -classpath: scalac's default "." would put the
        # working directory's packages in scope
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jar_dir(), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-classpath", os.pathsep.join(jars),
         "-nowarn", "-Ybackend-parallelism", "4", "-d", tmp, "@" + args],
        capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(tmp):
            for name in sorted(files):
                path = os.path.join(d, name)
                z.write(path, os.path.relpath(path, tmp))
    shutil.rmtree(tmp)
    os.rename(jar + ".tmp", jar)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jar


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print("[perfbench] build failed: %s" % e, file=sys.stderr)
        sys.exit(2)
