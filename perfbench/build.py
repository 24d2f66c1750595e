#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine's sources
(`src/main/scala`, unchanged) together with the benchmark's own sources
(`perfbench/src`) into `perfbench/.build/classes`, with the Scala compiler
that ships in the Spark distribution. A stamp of every source's content
skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = HERE / "src"
OUT = HERE / ".build"


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars, the repository's only dependencies
    (build.sbt's `unmanagedBase`)."""
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(pathlib.Path(home, "jars").glob("*.jar"))
    if not any(j.name.startswith("scala-compiler") for j in jars):
        raise BuildError(f"no Spark jars with a Scala compiler under {home}/jars")
    return [str(j) for j in jars]


def sources():
    engine = sorted(ENGINE_SRC.rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    return engine + sorted(BENCH_SRC.rglob("*.scala"))


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in [*jars, *srcs]:
        h.update(str(p).encode())
        if p in srcs:
            h.update(p.read_bytes())
    stamp = h.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == stamp and classes.is_dir()):
        OUT.mkdir(exist_ok=True)
        tmp = OUT / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = OUT / "sources.txt"
        argfile.write_text("\n".join(f'"{s}"' for s in srcs) + "\n")
        cp = os.pathsep.join(jars)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
        print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
        if r.returncode != 0:
            raise BuildError(f"scalac exited with {r.returncode}")
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp_file.write_text(stamp)
    return os.pathsep.join([str(classes), *jars])


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
