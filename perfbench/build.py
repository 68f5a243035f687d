"""Build file of the skyline benchmark.

Compiles the program's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into one class directory, with the
Scala compiler that ships among Spark's jars, so no sbt launcher, network or
user-level cache is needed. A stamp over every source and the compiler
arguments makes a rebuild happen only when something changed.

    python3 perfbench/build.py            # prints the class directory
"""

import hashlib
import os
import subprocess
import sys
from pathlib import Path

PROGRAM_SOURCES = Path("src/main/scala")
BENCH_SOURCES = Path("perfbench/src")
SCALAC_ARGS = ["-nowarn", "-deprecation"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = Path(os.environ.get("SPARK_HOME", "/opt/spark"))
    jars = home / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources(root: Path) -> list:
    program = root / PROGRAM_SOURCES
    if not program.is_dir():
        raise BuildError(f"program sources missing: {program}")
    files = sorted(program.rglob("*.scala")) + sorted((root / BENCH_SOURCES).rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def stamp_of(files: list, root: Path) -> str:
    h = hashlib.sha256(" ".join(SCALAC_ARGS).encode())
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:16]


def build(root: Path, out_root: Path) -> tuple:
    """Compile if needed; returns (class directory, source stamp)."""
    jars = spark_jars()
    files = sources(root)
    stamp = stamp_of(files, root)
    classes = out_root / f"classes-{stamp}"
    done = classes / ".complete"
    if done.exists():
        return classes, stamp
    classes.mkdir(parents=True, exist_ok=True)
    argfile = out_root / f"sources-{stamp}.txt"
    # relative paths: the argfile splits on whitespace
    argfile.write_text("\n".join(str(f.relative_to(root)) for f in files) + "\n")
    classpath = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out_root}",
           "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           *SCALAC_ARGS, "-classpath", classpath, "-d", str(classes), f"@{argfile}"]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        raise BuildError("scalac failed:\n" + proc.stdout[-4000:])
    done.write_text(stamp + "\n")
    return classes, stamp


if __name__ == "__main__":
    try:
        classes, _ = build(Path.cwd(), Path.cwd() / ".bench_build" / "perfbench")
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    print(classes)
