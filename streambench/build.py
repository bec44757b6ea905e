#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and the
harness (streambench/scala) into one class directory with the Scala compiler
that ships in the Spark distribution ($SPARK_HOME/jars, else the jar directory
named in build.sbt). No network, no sbt.

    python3 streambench/build.py          # build into $CARGO_TARGET_DIR or .bench_build

A build is reused while the sources are unchanged (a hash of every source
file is kept next to the classes).
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars(root: str = ROOT) -> str:
    """$SPARK_HOME/jars, else the jar directory the program's build.sbt uses."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit(f"streambench: no Spark jars under '{jars}' (set SPARK_HOME)")
    return jars


def sources(root: str) -> list:
    program = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not program:
        raise SystemExit(f"streambench: no program sources under {root}/src/main/scala")
    return program + sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))


def build_dir(root: str) -> str:
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(root, d)


def ensure(root: str = ROOT) -> str:
    """Compile if needed; return the class directory."""
    srcs = sources(root)
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    digest = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    if os.path.isdir(classes):
        subprocess.run(["rm", "-rf", classes], check=True)
    os.makedirs(classes)
    argfile = os.path.join(out, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars(root), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes, "@" + argfile]
    # cwd: scalac puts "." on its class path, where a directory would read as a package
    r = subprocess.run(cmd, cwd=out, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit("streambench: compilation failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


if __name__ == "__main__":
    print(ensure())
