"""Build file of the benchmark: compiles the program (`src/main/scala`) and
the harness (`perfbench/src`) into one class directory.

It calls the Scala 2.13 compiler that ships with Spark's jars (the same
compiler version `build.sbt` pins) directly, so a fresh checkout builds
in about half a minute without starting sbt. The output goes under
`.bench_build/perfbench/` in the checkout and is reused while no source
file changes.

    python3 perfbench/build.py      # prints the class directory
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"


def spark_jars():
    """Spark's jar directory: under $SPARK_HOME, else beside the
    `spark-submit` found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parent.parent
    if not home:
        raise RuntimeError("Spark not found: set SPARK_HOME or put spark-submit on PATH")
    return Path(home) / "jars"


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise RuntimeError(f"no program sources under {program}")
    files = sorted(program.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise RuntimeError("no Scala sources found")
    return files


def classpath(classes=None):
    jar_dir = spark_jars()
    jars = sorted(str(j) for j in jar_dir.glob("*.jar"))
    if not jars:
        raise RuntimeError(f"no Spark jars under {jar_dir}")
    return os.pathsep.join(([str(classes)] if classes else []) + jars)


def ensure_built():
    """Compile if any source changed since the last build; return the class dir."""
    files = sources()
    digest = hashlib.sha256()
    for f in files:
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    classes = OUT / "classes"
    stamp_file = OUT / "classes.sha256"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return classes
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("".join(f"{f}\n" for f in files))
    cp = classpath()
    log = OUT / "build.log"
    with open(log, "w") as out:
        rc = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
            stdout=out, stderr=subprocess.STDOUT, cwd=OUT).returncode
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        raise RuntimeError(f"compilation failed (rc={rc}); see {log}")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp_file.write_text(stamp)
    return classes


if __name__ == "__main__":
    try:
        print(ensure_built())
    except RuntimeError as e:
        sys.exit(f"build: {e}")
