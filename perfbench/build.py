#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark harness (perfbench/src) with the Scala compiler that ships
in the Spark distribution, into .bench_build/classes-<source hash>.

Usage: python3 perfbench/build.py        (prints the classes directory)

A build is reused while no source file changes. No sbt, no network: the
only inputs are the checkout's sources and $SPARK_HOME/jars
(default /opt/spark/jars).
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BUILD = ROOT / ".bench_build"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "src"]


def spark_jars() -> Path:
    return Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"


def sources() -> list:
    missing = [d for d in SOURCE_DIRS if not d.is_dir()]
    if missing:
        raise SystemExit("perfbench: source directory missing: "
                         + ", ".join(str(d.relative_to(ROOT)) for d in missing))
    return sorted(p for d in SOURCE_DIRS for p in d.rglob("*.scala"))


def source_hash(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode() + b"\0")
        h.update(f.read_bytes() + b"\0")
    return h.hexdigest()


def ensure_built() -> tuple:
    """(classes dir, source hash); compiles when the sources changed."""
    files = sources()
    digest = source_hash(files)
    out = BUILD / f"classes-{digest[:16]}"
    BUILD.mkdir(exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if (out / ".complete").exists():
            return out, digest
        tmp = BUILD / f"classes-{digest[:16]}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        argfile = BUILD / "scalac.args"
        argfile.write_text("\n".join(str(f) for f in files) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={BUILD}",
               "-cp", f"{spark_jars()}/*", "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", str(tmp), f"@{argfile}"]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE,
                              stderr=subprocess.STDOUT, text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout[-8000:])
            raise SystemExit(f"perfbench: compile failed ({proc.returncode})")
        (tmp / ".complete").write_text(digest + "\n")
        for old in BUILD.glob("classes-*"):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        tmp.rename(out)
        return out, digest


if __name__ == "__main__":
    print(ensure_built()[0])
