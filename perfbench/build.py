"""Build file of the benchmark package.

Compiles the library sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) with the Scala compiler that ships
in Spark's jars directory, into <build dir>/perfbench/classes. A stamp of
the sources' content makes a rebuild a no-op when nothing changed.

    python3 perfbench/build.py        # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        raise BuildError("SPARK_HOME is not set; it must name a Spark 4 install")
    jars = Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"no scala-compiler jar under {jars}")
    return jars


def build_dir() -> Path:
    d = Path(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    return (d if d.is_absolute() else ROOT / d) / "perfbench"


def sources() -> list:
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        raise BuildError(f"library sources not found at {lib}")
    files = sorted(lib.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))
    return [f for f in files if f.is_file()]


def stamp(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def build(log=sys.stderr) -> tuple:
    """Compile if needed; returns (classes dir, source digest)."""
    files = sources()
    digest = stamp(files)
    out = build_dir()
    classes = out / "classes"
    stamp_file = out / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == digest:
        return classes, digest
    jars = spark_jars()
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", str(jars / "*"),
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-d", str(tmp),
           "@" + str(argfile)]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(digest)
    return classes, digest


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(1)
