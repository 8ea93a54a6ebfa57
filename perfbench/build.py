"""Build file of the benchmark harness: compiles the library sources
(src/main/scala) and the harness (perfbench/src) with the Scala
compiler that ships in the Spark distribution under $SPARK_HOME/jars,
so the build needs nothing beyond the Spark install, and packs each
half into a jar. Outputs go under the build directory
($CARGO_TARGET_DIR, else .bench_build); each half is rebuilt only when
a hash of its sources changes.

The build then records a class-data-sharing archive of the classes a
session start loads (graftbench.CdsTrain under
-XX:ArchiveClassesAtExit), which every harness JVM maps at start-up;
it saves each run a few seconds of class loading. Without an archive
the harness runs the same, only slower to start.

    python3 perfbench/build.py        # prints the harness classpath
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


JAVA_OPTS = [
    "-Xmx2g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("SPARK_HOME must point at a Spark install with a jars/ directory")
    return os.path.join(home, "jars", "*")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _files(d):
    if not d:
        return []
    return sorted(f for f in glob.glob(os.path.join(d, "**", "*"), recursive=True)
                  if os.path.isfile(f))


def _digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _compile(srcs, classpath, out, stamp, resources=None):
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    tmp = os.path.join(out, "tmp")
    os.makedirs(classes)
    os.makedirs(tmp)
    args = os.path.join(out, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", spark_jars(), "scala.tools.nsc.Main", "-nowarn",
           "-classpath", classpath, "-d", classes, "@" + args]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"compile failed: {out}")
    # the class-data archive maps jars, not directories
    with zipfile.ZipFile(os.path.join(out, "classes.jar"), "w", zipfile.ZIP_DEFLATED) as z:
        for d in (classes, resources):
            for f in _files(d):
                z.write(f, os.path.relpath(f, d))
    with open(stamp_file, "w") as f:
        f.write(stamp)


def _archive(classpath, out, stamp):
    """Record the class-data archive; on failure, leave none."""
    jsa = os.path.join(out, "app.jsa")
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return jsa if os.path.exists(jsa) else None
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    tmp = tempfile.mkdtemp(dir=out)
    cores = str(len(os.sched_getaffinity(0)))
    cmd = ["java", *JAVA_OPTS, f"-XX:ArchiveClassesAtExit={jsa}", f"-Djava.io.tmpdir={tmp}",
           "-cp", classpath, "graftbench.CdsTrain", tmp, cores]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       cwd=tmp, timeout=300)
    shutil.rmtree(tmp, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(jsa):
        sys.stderr.write(f"class-data archive not recorded:\n{r.stdout[-2000:]}\n")
        if os.path.exists(jsa):
            os.remove(jsa)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return jsa if os.path.exists(jsa) else None


def build():
    """Compile as needed; return (harness classpath, extra JVM options)."""
    jars = spark_jars()
    lib_srcs = _sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_srcs = _sources(os.path.join(HERE, "src"))
    if not lib_srcs or not bench_srcs:
        raise SystemExit("library or harness sources missing")
    lib = os.path.join(build_dir(), "lib")
    bench = os.path.join(build_dir(), "bench")
    resources = os.path.join(ROOT, "src", "main", "resources")
    lib_stamp = _digest(lib_srcs + _files(resources))
    _compile(lib_srcs, jars, lib, lib_stamp, resources)
    lib_classes = os.path.join(lib, "classes")
    bench_stamp = _digest(bench_srcs, lib_stamp)
    _compile(bench_srcs, lib_classes + os.pathsep + jars, bench, bench_stamp)
    classpath = os.pathsep.join([os.path.join(bench, "classes.jar"),
                                 os.path.join(lib, "classes.jar"), jars])
    jsa = _archive(classpath, os.path.join(build_dir(), "cds"), bench_stamp)
    return classpath, ([f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off", "-Xlog:cds+dynamic=off"]
                       if jsa else [])


if __name__ == "__main__":
    print(build()[0])
