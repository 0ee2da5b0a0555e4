"""Build file of the benchmark: compiles the program's main sources together
with the benchmark harness (`perfbench/scala`) into one jar.

The program's own build (`build.sbt`) takes its Spark and Scala jars from an
unmanaged directory; this build reads that directory from `build.sbt` (or
`$SPARK_HOME/jars`) and runs the Scala compiler shipped there, so it needs
no dependency resolution. A stamp over every source file skips the compile
when nothing changed.

    python3 perfbench/build.py     # prints the jar
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
# class-data-sharing archive of the classes the workloads load; run.py
# writes it after each build and every run maps it
CDS_ARCHIVE = os.path.join(BUILD, "perfbench.jsa")
HERE = os.path.dirname(os.path.abspath(__file__))


class BuildError(Exception):
    pass


def jars_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise BuildError("no Spark jars: build.sbt names no unmanagedBase directory and SPARK_HOME is unset")


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise BuildError(f"program sources not found under {main}: run from the repository root")
    files = sorted(glob.glob(os.path.join(main, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "scala", "**", "*.scala"), recursive=True))
    return files


def build():
    """Compiles if needed; returns (jar, jars dir)."""
    jars = jars_dir()
    files = sources()
    h = hashlib.sha256(jars.encode())
    for f in files:
        h.update(f.encode())
        h.update(open(f, "rb").read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isfile(stamp_file) and open(stamp_file).read() == stamp:
        return JAR, jars
    for f in (stamp_file, JAR, CDS_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={BUILD}", "-Xss16m", "-Xmx2g",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    # a jar, not a directory: class-data sharing archives classes from jars only
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(CLASSES)):
            for n in sorted(names):
                p = os.path.join(d, n)
                z.write(p, os.path.relpath(p, CLASSES))
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return JAR, jars


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(str(e))
