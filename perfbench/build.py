#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (``src/main/scala``)
and the harness (``perfbench/harness/src``) into one class directory.

It calls the Scala compiler that ships in Spark's own jar directory
(``$SPARK_HOME/jars``, else the ``unmanagedBase`` that ``build.sbt``
names), so it needs neither sbt nor network access. A build is skipped
when the digest of every source file matches the one recorded by the
previous build.

Usage: python3 perfbench/build.py   (builds into .bench_build/)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
HARNESS_SRC = ROOT / "perfbench" / "harness" / "src"


def spark_jars():
    if "SPARK_HOME" in os.environ:
        jar_dir = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = (ROOT / "build.sbt").read_text() if (ROOT / "build.sbt").is_file() else ""
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt)
        if not m:
            raise SystemExit("perfbench: set SPARK_HOME (no unmanagedBase in build.sbt)")
        jar_dir = Path(m.group(1))
    jars = sorted(jar_dir.glob("*.jar"))
    if not jars:
        raise SystemExit(f"perfbench: no Spark jars under {jar_dir}")
    return [str(j) for j in jars]


def sources():
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"perfbench: engine sources missing ({ENGINE_SRC})")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))
    return [f for f in files if f.is_file()]


def source_digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def ensure_built(out_dir):
    """Compile into ``<out_dir>/classes`` unless up to date; return the
    run classpath and the source digest."""
    files = sources()
    digest = source_digest(files)
    classes = Path(out_dir) / "classes"
    stamp = Path(out_dir) / "classes.digest"
    jars = spark_jars()
    cp = os.pathsep.join(jars)
    if not (stamp.is_file() and stamp.read_text() == digest):
        shutil.rmtree(classes, ignore_errors=True)
        classes.mkdir(parents=True)
        argfile = Path(out_dir) / "sources.txt"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={out_dir}", "-cp", cp, "scala.tools.nsc.Main",
               "-nowarn", "-classpath", cp, "-d", str(classes), f"@{argfile}"]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True)
        if res.returncode != 0:
            sys.stderr.write(res.stdout[-8000:])
            raise SystemExit("perfbench: compile failed")
        stamp.write_text(digest)
    return os.pathsep.join([str(classes)] + jars), digest


def main():
    out = ROOT / ".bench_build"
    out.mkdir(exist_ok=True)
    _, digest = ensure_built(out)
    print(f"built {digest[:12]} into {out / 'classes'}")


if __name__ == "__main__":
    main()
