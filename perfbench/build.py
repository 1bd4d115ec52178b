"""Build file of the benchmark: compiles graft's sources together with the
benchmark harness into one jar, using the Scala compiler that ships with
the Spark distribution (no build tool, nothing downloaded).  A jar rather
than a class directory, because the JVM's class-data-sharing archives
(see run.py) only hold classes loaded from jars.

    python3 perfbench/build.py            # from the root of a checkout

The build is skipped when the sources are unchanged since the last one.
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


def spark_jars(root):
    """The Spark jars the project's own build compiles against: the
    directory build.sbt names as `unmanagedBase`, else $SPARK_HOME/jars."""
    dirs = []
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in dirs:
        if glob.glob(os.path.join(jars, "spark-core_*.jar")):
            return os.path.join(jars, "*")
    raise SystemExit("build: no Spark distribution found (build.sbt's unmanagedBase "
                     "or $SPARK_HOME/jars)")


def sources(root):
    prog = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(os.path.join(prog, "graft")):
        raise SystemExit(f"build: the program's sources are missing ({prog})")
    files = sorted(glob.glob(os.path.join(prog, "**", "*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    return files


def stamp(out):
    """Digest of the sources the current build was made from."""
    with open(os.path.join(out, "build.stamp")) as f:
        return f.read()


def build(root, out):
    """Compile into `<out>/graft.jar`; return the JVM class path to run with."""
    jars = spark_jars(root)
    files = sources(root)
    resources = os.path.join(root, "src", "main", "resources")
    h = hashlib.sha256()
    for f in files + sorted(glob.glob(os.path.join(resources, "**"), recursive=True)):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp_path = os.path.join(out, "build.stamp")
    classes = os.path.join(out, "classes")
    jar = os.path.join(out, "graft.jar")
    cp = jar + os.pathsep + jars
    if (os.path.exists(jar) and os.path.exists(stamp_path)
            and open(stamp_path).read() == h.hexdigest()):
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    if os.path.isdir(resources):
        shutil.copytree(resources, classes, dirs_exist_ok=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with zipfile.ZipFile(jar + ".tmp", "w", zipfile.ZIP_STORED) as z:
        for d, _, names in sorted(os.walk(classes)):
            for n in sorted(names):
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, classes))
    os.replace(jar + ".tmp", jar)
    with open(stamp_path, "w") as f:
        f.write(h.hexdigest())
    return cp


if __name__ == "__main__":
    root = os.getcwd()
    print(build(root, os.path.join(root, ".bench_build")))
