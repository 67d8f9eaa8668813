"""Build file of the benchmark package: compiles graft's sources
(src/main/scala) together with the benchmark's own (perfbench/src) with the
Scala compiler shipped in Spark's jar directory, into perfbench/.build.
Rebuilds only when a source file changes.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = HERE / ".build"
CLASSES = OUT / "classes"
STAMP = OUT / "stamp"


def spark_jars():
    """Spark's jar directory (it also ships the Scala compiler): under
    $SPARK_HOME, else under the first spark-submit on PATH that has one."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if d and (Path(d) / "spark-submit").exists()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("scala-compiler-*.jar")):
            return jars
    raise SystemExit("no Spark jar directory with a Scala compiler; set SPARK_HOME")


def sources():
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise SystemExit(f"program sources not found at {program}")
    files = sorted(program.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Return the classes directory, compiling first if needed."""
    files = sources()
    jars = spark_jars()
    want = digest(files)
    if STAMP.exists() and STAMP.read_text() == want and CLASSES.is_dir():
        return CLASSES
    tmp = OUT / f"classes.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / f"sources.{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cp = f"{jars}/*"
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    argfile.unlink()
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout + r.stderr)
        raise SystemExit("compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    tmp.rename(CLASSES)
    STAMP.write_text(want)
    print(f"compiled {len(files)} files", file=sys.stderr)
    return CLASSES


if __name__ == "__main__":
    print(build())
