"""Build file of the benchmark: compiles the program's sources and the
benchmark harness with the Scala compiler that ships in the Spark
distribution, into `.bench_build/classes` at the repository root.

    python3 perfbench/build.py

The build is skipped when the sources are unchanged since the last build
(a hash of every source file is kept beside the classes).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".bench_build"
PROGRAM_SRC = ROOT / "src" / "main" / "scala"
PROGRAM_RES = ROOT / "src" / "main" / "resources"
HARNESS_SRC = HERE / "src"


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("build: no Spark distribution found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    return sorted(PROGRAM_SRC.rglob("*.scala")) + sorted(HARNESS_SRC.rglob("*.scala"))


def stamp(files) -> str:
    h = hashlib.sha256()
    for f in files + sorted(p for p in PROGRAM_RES.rglob("*") if p.is_file()):
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> Path:
    """Compile if needed; return the classes directory."""
    if not PROGRAM_SRC.is_dir():
        raise SystemExit(f"build: program sources not found under {PROGRAM_SRC.relative_to(ROOT)}")
    files = sources()
    classes = OUT / "classes"
    key = stamp(files)
    stamp_file = OUT / "classes.stamp"
    if classes.is_dir() and stamp_file.is_file() and stamp_file.read_text() == key:
        return classes
    jars = spark_jars()
    staging = OUT / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = f"{jars}/*"
    tmp = OUT / "tmp"
    tmp.mkdir(exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", str(staging), "-classpath", cp,
           f"@{argfile}"]
    print(f"build: compiling {len(files)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    if PROGRAM_RES.is_dir():
        shutil.copytree(PROGRAM_RES, staging, dirs_exist_ok=True)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp_file.write_text(key)
    return classes


if __name__ == "__main__":
    print(build())
