"""Paths, the build and the JVM command line shared by the benchmark's
scripts. Every path is relative to the checkout the scripts sit in."""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")           # sf0.1 tables (read-only)
BUILD = os.path.join(ROOT, ".bench_build")  # compiled classes
WORK = os.path.join(ROOT, ".bench_work")    # inputs, runs, traces
INPUTS = os.path.join(WORK, "inputs")
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
SCALA = "2.13.17"

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def cores():
    """`nproc`: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(main, "graft")):
        fail("program sources (src/main/scala/graft) not found; run from "
             "the root of a checkout")
    return (sorted(glob.glob(os.path.join(main, "**", "*.scala"),
                             recursive=True)) +
            sorted(glob.glob(os.path.join(HERE, "scala", "*.scala"))))


def build():
    """Compile the program and the harness with scalac, once per source
    digest. Returns the classes directory."""
    srcs = _sources()
    h = hashlib.sha256(SCALA.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) and \
            open(stamp).read() == digest:
        return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = ":".join(os.path.join(SPARK_JARS, f"scala-{p}-{SCALA}.jar")
                  for p in ("compiler", "library", "reflect"))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", os.path.join(SPARK_JARS, "*"), "-d", tmp, "-nowarn",
         "@" + argfile],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp + ".tmp", "w") as f:
        f.write(digest)
    os.replace(stamp + ".tmp", stamp)
    return classes


def java_cmd(classes, tmpdir, main, heap="4g"):
    """The JVM command line: Spark's JDK 17 module opens, a heap whose
    4 GB are reserved at start but not touched, with a fixed young
    generation, temp files and Spark's scratch space inside `tmpdir`, no
    UI. With nothing to expand, the resident heap is the set of regions
    the program has filled, so the peak RSS follows the program's peak
    occupancy rather than G1's expansion heuristics."""
    opens = [a for p in JDK_OPENS
             for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return (["java"] + opens +
            [f"-Xms{heap}", f"-Xmx{heap}", "-Xmn512m",
             f"-Djava.io.tmpdir={tmpdir}",
             f"-Dspark.local.dir={tmpdir}", "-Dspark.ui.enabled=false",
             f"-Dspark.sql.warehouse.dir={os.path.join(tmpdir, 'warehouse')}",
             "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{classes}:{os.path.join(SPARK_JARS, '*')}", main])


def atomic_write(path, text):
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def graft_tmp():
    """The program's staged artifacts: it hard-codes /tmp/graft_*."""
    return {e for e in os.listdir("/tmp") if e.startswith("graft_")}


def remove_graft_tmp(before):
    """Delete the /tmp/graft_* entries made since `before` was taken."""
    for e in graft_tmp() - before:
        p = os.path.join("/tmp", e)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif os.path.exists(p):
            os.remove(p)
