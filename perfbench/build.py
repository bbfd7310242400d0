#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/scala) from source with the Scala compiler that
ships among the Spark jars the repo's build.sbt compiles against. No sbt, no
dependency resolution, no network. The jar directory and the JVM options a
Spark session needs (--add-opens, -D settings) are read from build.sbt, so
the benchmark runs the engine the way `sbt run` does.

    python3 perfbench/build.py        # prints the classes directory

Classes go to .bench_build/classes. A stamp of every source file's path and
contents skips the compile when nothing changed.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"
CLASSES = BUILD / "classes"
SOURCE_DIRS = [ROOT / "src" / "main" / "scala", ROOT / "perfbench" / "scala"]


def build_sbt():
    sbt = ROOT / "build.sbt"
    return sbt.read_text() if sbt.is_file() else ""


def spark_jars():
    """The jar directory build.sbt names as unmanagedBase, else $SPARK_HOME/jars."""
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build_sbt())
    if m:
        if Path(m.group(1)).is_dir():
            return Path(m.group(1))
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    raise SystemExit("build: no Spark jar directory (build.sbt unmanagedBase or SPARK_HOME)")


def java_options():
    """build.sbt's `jdk17AddOpens` as --add-opens flags, plus the -D options
    of its `javaOptions` (its -Xmx is sized for the full engine; the
    benchmark sets its own)."""
    text = build_sbt()
    opens = re.search(r"val jdk17AddOpens\s*=\s*Seq\((.*?)\)", text, re.S)
    options = re.search(r"javaOptions\s*\+\+=.*?Seq\((.*?)\)", text, re.S)
    if not opens or not options:
        raise SystemExit("build: build.sbt has no jdk17AddOpens or javaOptions")
    flags = []
    for module in re.findall(r'"([^"]+)"', opens.group(1)):
        flags += ["--add-opens", f"{module}=ALL-UNNAMED"]
    return flags + re.findall(r'"(-D[^"]+)"', options.group(1))


def sources():
    files = []
    for d in SOURCE_DIRS:
        if not d.is_dir():
            raise SystemExit(f"build: source directory {d.relative_to(ROOT)} is missing")
        files += sorted(d.rglob("*.scala"))
    return files


def stamp(files, jars):
    h = hashlib.sha256(str(jars).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def compiler_classpath(jars):
    parts = []
    for name in ("scala-compiler", "scala-library", "scala-reflect"):
        found = sorted(jars.glob(f"{name}-2.13.*.jar"))
        if not found:
            raise SystemExit(f"build: {name} jar not found in {jars}")
        parts.append(str(found[-1]))
    return os.pathsep.join(parts)


def ensure():
    """Compiles if the sources changed; returns (classes dir, jar dir)."""
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    stamp_file = CLASSES / ".stamp"
    if stamp_file.is_file() and stamp_file.read_text() == want:
        return CLASSES, jars
    BUILD.mkdir(exist_ok=True)
    tmp = BUILD / f"classes.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    argfile = BUILD / f"sources{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", compiler_classpath(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", str(jars / "*"),
           "-d", str(tmp), f"@{argfile}"]
    print(f"build: compiling {len(files)} files", file=sys.stderr)
    res = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    argfile.unlink()
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"build: scalac exited with {res.returncode}")
    (tmp / ".stamp").write_text(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    return CLASSES, jars


if __name__ == "__main__":
    print(ensure()[0])
