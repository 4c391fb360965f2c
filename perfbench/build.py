#!/usr/bin/env python3
"""Build the program and the benchmark harness from the checked-out sources.

    python3 perfbench/build.py        # from the repository root

Compiles `src/main/scala` (the program) and then `perfbench/scala` (the
harness, against the program) with the Scala compiler that ships among
Spark's jars, into `.perfbench/build/<hash>/{program,harness}`. The hash
covers every source file and this script, so a build directory only ever
holds classes of exactly the sources it was made from; the harness checks
at start-up that every `graft` class loads from that `program` directory.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

PROGRAM_SRC = Path("src/main/scala")
HARNESS_SRC = Path("perfbench/scala")
STATE = Path(".perfbench")


def spark_jars() -> Path:
    home = Path(os.environ.get("SPARK_HOME", "/opt/spark"))
    jars = home / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        sys.exit(f"perfbench: no Scala compiler among {jars}; set SPARK_HOME")
    return jars


def sources(root: Path, rel: Path) -> list:
    files = sorted(p for p in (root / rel).rglob("*.scala") if p.is_file())
    if not files:
        sys.exit(f"perfbench: no Scala sources under {root / rel}")
    return files


def digest(root: Path, files: list, jars: Path) -> str:
    h = hashlib.sha256()
    h.update(Path(__file__).read_bytes())
    h.update(",".join(sorted(p.name for p in jars.glob("scala-*.jar"))).encode())
    for p in files:
        h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:20]


def scalac(jars: Path, classpath: str, out: Path, files: list) -> None:
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
           "scala.tools.nsc.Main", "-nowarn", "-classpath", classpath,
           "-d", str(out)] + [str(f) for f in files]
    done = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
    if done.returncode != 0:
        sys.stderr.write(done.stdout.decode(errors="replace")[-8000:])
        sys.exit(f"perfbench: compiling {len(files)} files into {out} failed")


def build(root: Path) -> tuple:
    """(program classes dir, harness classes dir) for the sources at root."""
    jars = spark_jars()
    program, harness = sources(root, PROGRAM_SRC), sources(root, HARNESS_SRC)
    builds = root / STATE / "build"
    out = builds / digest(root, program + harness, jars)
    builds.mkdir(parents=True, exist_ok=True)
    with open(builds / ".lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (out / "OK").exists():
            shutil.rmtree(out, ignore_errors=True)
            scalac(jars, f"{jars}/*", out / "program", program)
            scalac(jars, f"{out / 'program'}:{jars}/*", out / "harness", harness)
            (out / "OK").write_text("ok\n")
            for old in builds.iterdir():
                if old.is_dir() and old != out:
                    shutil.rmtree(old, ignore_errors=True)
    return out / "program", out / "harness"


if __name__ == "__main__":
    p, h = build(Path.cwd())
    print(f"program classes: {p}\nharness classes: {h}")
