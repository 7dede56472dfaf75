"""Build file of the benchmark: compiles the library's Scala sources
together with the benchmark's own (`perfbench/src`) into one class
directory, with the Scala compiler that ships among the Spark jars.

The jar directory is the library's own: the `unmanagedBase` its
`build.sbt` declares, else `$SPARK_HOME/jars`. A build is reused while
the sources and the jar list hash the same.

    python3 perfbench/build.py      # from the repository root
"""

import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".build")

# JDK 17 module opens Spark needs outside spark-submit (the list the
# library's build.sbt passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_opens():
    return [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def library_sources():
    return os.path.join(ROOT, "src", "main", "scala")


def jar_dir():
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME", "")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    raise SystemExit("perfbench build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def _sources():
    files = []
    for base in (library_sources(), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def _stamp(files, jars):
    h = hashlib.sha256()
    for path in files:
        h.update(path.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    return h.hexdigest()


def classpath():
    """Class path for running the benchmark; builds first if needed."""
    if not os.path.isdir(library_sources()):
        raise SystemExit(f"perfbench build: library sources not found under {ROOT}")
    jars = jar_dir()
    files = _sources()
    stamp = _stamp(files, jars)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        shutil.rmtree(OUT, ignore_errors=True)
        os.makedirs(classes)
        cp = os.path.join(jars, "*")
        cmd = ["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
               "-d", classes, "-cp", cp] + files
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("perfbench build: compile failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + os.path.join(jars, "*")


if __name__ == "__main__":
    print(classpath())
