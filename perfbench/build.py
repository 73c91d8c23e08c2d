"""Build file of the benchmark: compiles the library (`src/main/scala`) and
the benchmark's own sources (`perfbench/src`) with the Scala compiler that
ships among Spark's jars, into `.bench_build/classes` at the checkout root.

A build is reused while the sources are unchanged (a content hash is kept
next to the classes).  Run directly to build: `python3 perfbench/build.py`.
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
LIB_SOURCES = ROOT / "src" / "main" / "scala"
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.sha256"


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else the `jars` beside the
    first `bin/spark-submit` on the PATH that has Spark's SQL jar."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = Path(home) / "jars"
        if any(jars.glob("spark-sql_2.13-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    return str(Path(home) / "bin" / "java") if home else "java"


def sources() -> list:
    if not LIB_SOURCES.is_dir():
        raise SystemExit(f"perfbench: library sources missing: {LIB_SOURCES}")
    files = sorted(LIB_SOURCES.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise SystemExit("perfbench: no Scala sources found")
    return files


def digest(files: list) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath() -> str:
    return os.pathsep.join([str(CLASSES), str(spark_jars() / "*")])


def ensure_built() -> str:
    """Compiles if the sources changed since the last build; returns the classpath."""
    files = sources()
    jars = spark_jars()
    want = digest(files)
    if STAMP.exists() and STAMP.read_text().strip() == want and CLASSES.is_dir():
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", str(jars / "*"),
           f"@{argfile}"]
    print(f"perfbench: compiling {len(files)} Scala sources", file=sys.stderr, flush=True)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(CLASSES, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {done.returncode})")
    STAMP.write_text(want + "\n")
    return classpath()


if __name__ == "__main__":
    print(ensure_built())
