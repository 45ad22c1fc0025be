#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine and the benchmark.

The engine's Scala sources (src/main/scala) and the benchmark's own
(perfbench/src) are compiled together by the Scala compiler that ships in
Spark's jar directory, into one class directory under the build directory
(CARGO_TARGET_DIR when set, else .bench_build at the repository root). A
stamp over every source's path and content skips the compile when nothing
changed.

    python3 perfbench/build.py        # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RESOURCES = ROOT / "src" / "main" / "resources"


class BuildError(Exception):
    pass


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark installation: set SPARK_HOME")
    return Path(home) / "jars"


def _sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(BENCH_SRC in f.parents for f in files):
        raise BuildError(f"benchmark sources missing: {BENCH_SRC}")
    return files


def _stamp(files: list) -> str:
    h = hashlib.sha256()
    resources = sorted(p for p in ENGINE_RESOURCES.rglob("*") if p.is_file())
    for f in files + resources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile if the sources changed; return the class directory."""
    files = _sources()
    jars = spark_jars()
    out = build_dir() / "classes"
    stamp_file = build_dir() / "classes.stamp"
    stamp = _stamp(files)
    if out.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return out
    tmp = build_dir() / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = build_dir() / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", str(tmp), "@" + str(argfile)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise BuildError(f"scalac exited with {proc.returncode}")
    if ENGINE_RESOURCES.is_dir():
        shutil.copytree(ENGINE_RESOURCES, tmp, dirs_exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    stamp_file.write_text(stamp)
    return out


if __name__ == "__main__":
    try:
        print(build())
    except (BuildError, subprocess.TimeoutExpired) as e:
        sys.exit(f"build failed: {e}")
