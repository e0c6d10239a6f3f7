"""Build file of the benchmark package.

Compiles the engine's sources (`src/main/scala` of the checkout) together
with the benchmark's own sources (`perfbench/src`) with the Scala compiler
that ships in the Spark distribution, packs them into one jar, and records a
JVM class-data archive of a training run (tiny inputs of every workload), so
that each benchmark run starts its JVM from archived classes. Recording
slows the JVM that records, which is why a separate run does it. Output goes
to `.bench_build/build-<hash>/`; the hash covers every input, so an edited
engine is rebuilt and an unchanged one is reused.

    python3 perfbench/build.py        # prints the build directory
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME, else the one
    beside `spark-submit` on the PATH, else pyspark's bundled jars."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        candidates.append(os.path.join(
            os.path.dirname(os.path.dirname(os.path.realpath(submit))), "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "spark-core_*.jar")):
            return c
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise SystemExit("perfbench: no java found (set JAVA_HOME)")
    return exe


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit("perfbench: engine sources not found at "
                         + os.path.relpath(ENGINE_SRC, ROOT))
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def jvm_command(target, main_args, record=False):
    """The benchmark JVM: fixed heap and flags, the build's jar ahead of
    Spark's, and the build's class-data archive (recorded at exit when
    `record` is set, used otherwise)."""
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jsa = os.path.join(target, "classes.jsa")
    cds = ["-XX:%s=%s" % ("ArchiveClassesAtExit" if record
                          else "SharedArchiveFile", jsa)]
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
    return [java()] + opens + cds + [
        "-Xlog:disable", "-Xlog:all=error:stderr", "-XX:-UsePerfData",
        "-Xmx3g", "-XX:+UseG1GC",
        "-Djava.io.tmpdir=" + tmp,
        "-Dderby.system.home=" + tmp,
        "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
        "-cp", os.pathsep.join([os.path.join(target, "graftbench.jar"),
                                os.path.join(spark_jars(), "*")]),
        "graftbench.Main", "--work", OUT,
    ] + main_args


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, dirs, fs in os.walk(classes):
            dirs.sort()
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def build():
    """Returns the build directory, building first when needed."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    target = os.path.join(OUT, "build-" + h.hexdigest()[:16])
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(target, "done")):
            return target
        classes = os.path.join(target, "classes")
        os.makedirs(classes)
        compiler = [glob.glob(os.path.join(jars, "scala-%s-2*.jar" % n))[0]
                    for n in ("compiler", "library", "reflect")]
        args = os.path.join(target, "sources.txt")
        with open(args, "w") as f:
            f.write("\n".join(srcs) + "\n")
        print("perfbench: compiling %d sources" % len(srcs), file=sys.stderr)
        subprocess.run([java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g",
                        "-cp", os.pathsep.join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-usejavacp",
                        "-classpath", os.path.join(jars, "*"),
                        "-d", classes, "@" + args], check=True)
        pack(classes, os.path.join(target, "graftbench.jar"))
        shutil.rmtree(classes)
        print("perfbench: recording the class-data archive", file=sys.stderr)
        subprocess.run(jvm_command(target, ["--train", "1"], record=True),
                       check=True, stdout=subprocess.DEVNULL)
        open(os.path.join(target, "done"), "w").close()
    return target


if __name__ == "__main__":
    print(build())
