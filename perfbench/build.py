"""Build file of the benchmark: compiles the library's main sources and the
benchmark's own sources into one class directory with the Scala compiler
that ships among Spark's jars. Nothing is fetched; the build is skipped
when the sources are unchanged since the last build.

    python3 perfbench/build.py          # build (or report up to date)
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
LIB_SRC = ROOT / "src" / "main" / "scala"
BENCH_SRC = BENCH / "src"
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
STAMP = OUT / "classes.stamp"


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if not jars or not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit("perfbench: no Spark jar directory with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources():
    if not (LIB_SRC / "graft").is_dir():
        raise SystemExit(f"perfbench: library sources not found under {LIB_SRC.relative_to(ROOT)}")
    return sorted(LIB_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))


def digest(files, jars):
    h = hashlib.sha256()
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    return f"{CLASSES}{os.pathsep}{spark_jars() / '*'}"


def build(quiet=False):
    """Compile if needed; returns the source digest that identifies the build."""
    files = sources()
    jars = spark_jars()
    want = digest(files, jars)
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return want
    if CLASSES.exists():
        shutil.rmtree(CLASSES)
    CLASSES.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", str(jars / "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", str(CLASSES), "-classpath", str(jars / "*"), f"@{argfile}"]
    if not quiet:
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise SystemExit("perfbench: compilation failed")
    STAMP.write_text(want)
    return want


if __name__ == "__main__":
    print(build())
