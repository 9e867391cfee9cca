#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` of the checkout) and the benchmark
driver (`perfbench/src`) with the Scala compiler that ships among the
Spark jars, into `perfbench/.build/`. Each stage is skipped when a
digest of its sources (and of the classpath it compiles against) matches
the previous build, so only the first run in a checkout pays for it.

Usage: python3 perfbench/build.py   (prints the runtime classpath)
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase := file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("no Spark jars: set SPARK_HOME")
    return m.group(1)


def spark_classpath():
    d = spark_jars_dir()
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        raise SystemExit(f"no Spark jars under {d}")
    return jars


def scala_sources(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_stage(name, sources, classpath, upstream=""):
    """Compile `sources` into .build/<name>; returns (dir, digest)."""
    out = os.path.join(BUILD, name)
    stamp = os.path.join(BUILD, name + ".stamp")
    want = digest(sources, ":".join(classpath) + upstream)
    if os.path.exists(stamp) and open(stamp).read() == want:
        return out, want
    if not sources:
        raise SystemExit(f"no sources for build stage {name}")
    tmp = out + ".tmp"
    subprocess.run(["rm", "-rf", tmp], check=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, name + ".sources")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    compiler = [j for j in classpath if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", ":".join(classpath),
           "-d", tmp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"compile of {name} failed")
    subprocess.run(["rm", "-rf", out], check=True)
    os.rename(tmp, out)
    with open(stamp, "w") as f:
        f.write(want)
    return out, want


def build():
    """Compile what is stale; return the runtime classpath entries."""
    os.makedirs(BUILD, exist_ok=True)
    spark = spark_classpath()
    main, main_digest = compile_stage(
        "main", scala_sources(os.path.join(ROOT, "src", "main", "scala")), spark)
    bench, _ = compile_stage(
        "bench", scala_sources(os.path.join(HERE, "src")), [main] + spark, main_digest)
    return [bench, main] + spark


if __name__ == "__main__":
    print(":".join(build()))
