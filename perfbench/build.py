"""Build file of the benchmark: compiles graft's main sources together with
the harness in perfbench/src into one class directory.

The Scala compiler and every runtime dependency come from the Spark
distribution the repository builds against (the jars directory under
SPARK_HOME, or next to `spark-submit` on PATH), so the build needs no
dependency resolution and writes only under the build directory.

    python3 perfbench/build.py [build_dir]

prints the class directory. A build is reused while no source changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN = os.path.join(ROOT, "src", "main")

# The module options `spark-submit` would add on JDK 17 (the repository's
# build.sbt passes the same list to forked runs).
JVM_OPENS = [
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    scala = os.path.join(MAIN, "scala")
    if not os.path.isdir(scala):
        raise BuildError("graft sources not found at src/main/scala")
    main = sorted(glob.glob(os.path.join(scala, "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    resources = sorted(p for p in glob.glob(
        os.path.join(MAIN, "resources", "**", "*"), recursive=True)
        if os.path.isfile(p))
    return main + bench, resources


def build(build_dir):
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs, resources = sources()
    digest = hashlib.sha256()
    for p in srcs + resources:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    classes = os.path.join(build_dir, "classes-" + digest.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True)
    if res.returncode != 0:
        raise BuildError("compilation failed:\n" + res.stdout[-4000:])
    res_root = os.path.join(MAIN, "resources")
    for p in resources:
        dst = os.path.join(tmp, os.path.relpath(p, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    os.rename(tmp, classes)
    return classes


def java_command(classes, work_dir):
    """The JVM invocation that runs a main class of the build, with every
    temporary file (JVM, Spark blocks, warehouse) under `work_dir`. The heap
    is fixed, so the resident set does not follow the collector's resizing."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m",
           "-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
           "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
           "-Dspark.sql.warehouse.dir=" + os.path.join(work_dir, "warehouse"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")
    try:
        print(build(os.path.abspath(out)))
    except BuildError as e:
        sys.exit(str(e))
