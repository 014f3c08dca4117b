"""Build graft and the benchmark's JVM side into one class directory.

The benchmark is its own build: it compiles the repository's Scala
sources (`src/main/scala`) together with `perfbench/src` using the
Scala compiler that ships with Spark, and reuses the result while no
source file changes. Run it alone with `python3 perfbench/build.py`;
`run.py` calls it before every run.
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"


class BuildError(RuntimeError):
    pass


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise BuildError("no Spark installation found (set SPARK_HOME)")
    return Path(home) / "jars"


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise BuildError(f"graft sources not found under {main.relative_to(ROOT)}")
    files = sorted(main.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    return files


def build() -> str:
    """Compile if needed; return the run classpath. Concurrent callers
    serialize on a lock file, so one compiles and the others reuse it."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / f"classes-{h.hexdigest()[:16]}"
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (out / ".complete").exists():
            for old in list(BUILD.glob("classes-*")) + list(BUILD.glob("tmp")):
                shutil.rmtree(old, ignore_errors=True)
            tmp = BUILD / "tmp"
            tmp.mkdir()
            argfile = BUILD / "sources.txt"
            argfile.write_text("\n".join(str(f) for f in files) + "\n")
            cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
                   "scala.tools.nsc.Main", "-encoding", "UTF-8", "-nowarn", "-d", str(tmp),
                   "-classpath", f"{jars}/*", f"@{argfile}"]
            p = subprocess.run(cmd, capture_output=True, text=True)
            argfile.unlink(missing_ok=True)
            if p.returncode != 0:
                shutil.rmtree(tmp, ignore_errors=True)
                raise BuildError("scalac failed:\n" + (p.stdout + p.stderr)[-4000:])
            (tmp / ".complete").write_text("ok\n")
            tmp.rename(out)
    resources = ROOT / "src" / "main" / "resources"
    return os.pathsep.join([str(out), str(resources), f"{jars}/*"])


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(e, file=sys.stderr)
        sys.exit(2)
