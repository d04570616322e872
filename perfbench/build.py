"""Build file of the benchmark package.

Compiles graft's sources (`src/main/scala`) together with the harness
(`perfbench/scala`) with the Scala compiler that ships in the Spark
distribution, into `.bench_build/classes`, and dumps the
`main_summary` fixture schema the input generator needs. No sbt, no
network: the classpath is `$SPARK_HOME/jars` (default `/opt/spark/jars`),
the same jars `build.sbt` uses as its unmanaged base.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"
BUILD_TIMEOUT_S = 800

JVM_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def jars_dir():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def out_dir(root):
    return os.path.join(root, ".bench_build")


def classpath(root):
    return os.path.join(out_dir(root), "classes") + os.pathsep + os.path.join(jars_dir(), "*")


def schema_path(root):
    return os.path.join(out_dir(root), "main_summary_schema.json")


def sources(root):
    src = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                           recursive=True))
    if not src:
        raise RuntimeError(f"no graft sources under {root}/src/main/scala")
    return src + sorted(glob.glob(os.path.join(root, "perfbench", "scala", "*.scala")))


def ensure(root):
    """Compile if the sources changed since the last build."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(s.encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    b = out_dir(root)
    stamp = os.path.join(b, "build.stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    classes = os.path.join(b, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(b, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    jars = jars_dir()
    compiler = os.pathsep.join(os.path.join(jars, f"scala-{n}-{SCALA_VERSION}.jar")
                               for n in ("compiler", "library", "reflect"))
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", compiler,
                    "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
                    "-d", classes, f"@{argfile}"],
                   check=True, timeout=BUILD_TIMEOUT_S, stdout=sys.stderr)
    subprocess.run(["java", "-XX:-UsePerfData", *JVM_OPENS, "-cp", classpath(root),
                    "graftbench.GraftBench", "dump-schema", schema_path(root)],
                   check=True, timeout=120, stdout=sys.stderr)
    with open(stamp, "w") as f:
        f.write(digest)


if __name__ == "__main__":
    ensure(os.getcwd())
