"""Build file of the benchmark: compiles graft's main sources and the
JVM harness with the Scala compiler that ships in Spark's jars, without
sbt (its start-up would land in the measured set-up time), into
`<build dir>/classes`. A stamp of the sources' hash skips rebuilding.

    python3 perfbench/build.py        # build into $CARGO_TARGET_DIR or .bench_build
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def build_dir():
    return os.path.abspath(os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build")))


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"no Spark jars under {jars}")
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("graft sources (src/main/scala) not found")
    return main + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def classpath(classes):
    return os.pathsep.join([classes, os.path.join(ROOT, "src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def ensure():
    """Compile unless the classes match the current sources; returns the
    runtime classpath."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath(classes)
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    jars = spark_jars()
    compiler = os.pathsep.join(
        glob.glob(os.path.join(jars, f"scala-{n}-2.13*.jar"))[0]
        for n in ("compiler", "library", "reflect"))
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", classes] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return classpath(classes)


if __name__ == "__main__":
    print(ensure())
