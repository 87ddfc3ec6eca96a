"""Build file of the benchmark: compiles the program's main sources and the
benchmark's own Scala sources with scalac, against the Spark jars the
program builds against, into `.bench_build/classes` at the repository root.

A stamp of every source file's content makes a rebuild happen only when a
source changed.  Run directly to build: `python3 perfbench/build.py`.
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
STAMP = BUILD / "classes.stamp"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    `unmanagedBase` the program's own build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m and Path(m.group(1)).is_dir():
            return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    own = ROOT / "perfbench" / "src"
    if not main.is_dir():
        raise BuildError(f"program sources not found at {main.relative_to(ROOT)}")
    files = sorted(main.rglob("*.scala")) + sorted(own.rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def classpath() -> str:
    return f"{CLASSES}{os.pathsep}{spark_jars()}/*"


def build(log=sys.stderr) -> None:
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    jars = f"{spark_jars()}/*"
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    print(f"[perfbench] compiling {len(files)} Scala sources", file=log, flush=True)
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", jars, f"@{argfile}"],
                       stdout=log, stderr=log)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(stamp)


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        sys.exit(f"[perfbench] build failed: {e}")
