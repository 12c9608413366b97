"""Build file of the benchmark package: compiles the program's sources
under src/main/scala together with the benchmark's own Scala sources into
one jar, with the Scala compiler that ships in Spark's jars, then records
a class-data-sharing archive of the classes a Spark session loads, which
roughly halves JVM start-up in every run.

Rebuilds only when a source file changed since the last build.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys


# Spark's jars: the program's dependencies and the Scala compiler.
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
HERE = os.path.dirname(os.path.abspath(__file__))

# JDK 17 module opens that spark-submit normally injects (the same list the
# program's own sbt build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# C1 only: with C2 a fresh JVM's refresh time keeps falling for ~40 s (900 ms
# to 550 ms on 4 cores) as it compiles, so a 12 s window would measure where
# on that curve the run happened to be; C1 code is flat from the first
# refresh and the run-to-run spread of refresh times drops from ~0.3 to <0.1.
JVM_FLAGS = ["-Xmx3g", "-XX:+UseG1GC", "-XX:TieredStopAtLevel=1", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC"]


def java_cmd(build_dir, tmp, archive="use"):
    """`java` with the benchmark's flags and class path. `archive` is "use"
    (load the class-data archive when present) or "record"."""
    jar = os.path.join(build_dir, "perfbench.jar")
    jsa = os.path.join(build_dir, "perfbench.jsa")
    cds = ([f"-XX:ArchiveClassesAtExit={jsa}"] if archive == "record"
           else [f"-XX:SharedArchiveFile={jsa}"] if os.path.exists(jsa) else [])
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + JVM_FLAGS + cds + opens + [f"-Djava.io.tmpdir={tmp}", "-cp",
            f"{jar}:{os.path.join(SPARK_JARS, '*')}", "perfbench.Main"])


def sources(root):
    program = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return program, bench


def build(root, build_dir):
    """Compile if needed. Exits with an error when the checkout holds no
    program sources."""
    program, bench = sources(root)
    if not program:
        sys.exit(f"no program sources under {os.path.join(root, 'src', 'main', 'scala')}")
    if not glob.glob(os.path.join(SPARK_JARS, "scala-compiler-*.jar")):
        sys.exit(f"no Scala compiler in {SPARK_JARS} (is SPARK_HOME set?)")
    h = hashlib.sha256()
    for f in program + bench:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    digest = h.hexdigest()
    stamp = os.path.join(build_dir, "perfbench.sha256")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return
    for f in ("perfbench.jar", "perfbench.jsa", "perfbench.sha256"):
        if os.path.exists(os.path.join(build_dir, f)):
            os.remove(os.path.join(build_dir, f))
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(SPARK_JARS, "*")
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", classes, "-classpath", cp] + program + bench,
                   check=True, stdout=sys.stderr)
    subprocess.run(["jar", "cf", os.path.join(build_dir, "perfbench.jar"), "-C", classes, "."],
                   check=True)
    shutil.rmtree(classes)
    work = os.path.join(build_dir, "archive-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    subprocess.run(java_cmd(build_dir, work, archive="record")
                   + ["--workload", "classes", "--out", work],
                   check=True, stdout=sys.stderr, stderr=sys.stderr, timeout=300)
    shutil.rmtree(work)
    with open(stamp, "w") as f:
        f.write(digest)
