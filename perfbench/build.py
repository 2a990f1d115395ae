"""Build the engine and the benchmark's engine-side classes from source.

The engine's only dependencies are the Spark distribution's jars (build.sbt
points `unmanagedBase` at them), and that directory also ships the Scala
compiler, so the build runs scalac directly: no build tool, nothing written
outside the checkout. Output goes to `.bench_build/<source hash>/`, built in
a staging directory and renamed into place, so a half-finished build is
never used.
"""
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BUILD_DIR = ".bench_build"


def spark_jars(root: Path) -> Path:
    """The Spark jars directory: $SPARK_HOME/jars, else build.sbt's
    `unmanagedBase`."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', (root / "build.sbt").read_text())
    if m:
        candidates.append(Path(m.group(1)))
    for c in candidates:
        if any(c.glob("scala-compiler-*.jar")) and any(c.glob("spark-sql_*.jar")):
            return c
    raise RuntimeError("no Spark jars directory with a Scala compiler found "
                       f"(tried {', '.join(map(str, candidates)) or 'nothing'})")


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and Path(home, "bin", "java").exists():
        return str(Path(home, "bin", "java"))
    return "java"


def _sources(d: Path):
    return sorted(p for p in d.rglob("*.scala") if p.is_file())


def _scalac(jars: Path, classpath: str, out: Path, sources) -> None:
    out.mkdir(parents=True)
    argfile = out.parent / (out.name + ".args")
    argfile.write_text("\n".join(str(s) for s in sources) + "\n")
    cmd = [java(), "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(out), "-classpath", classpath, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    argfile.unlink()
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise RuntimeError(f"scalac failed for {out.name}")


def ensure(root: Path) -> str:
    """Build if needed; return the runtime classpath."""
    jars = spark_jars(root)
    main_src = _sources(root / "src" / "main" / "scala")
    bench_src = _sources(Path(__file__).resolve().parent / "engine")
    h = hashlib.sha256()
    for p in main_src + bench_src:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    h.update(",".join(sorted(j.name for j in jars.glob("*.jar"))).encode())
    key = h.hexdigest()[:20]
    base = root / BUILD_DIR
    base.mkdir(exist_ok=True)
    final = base / key
    jar_cp = ":".join(str(j) for j in sorted(jars.glob("*.jar")))
    with open(base / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not final.is_dir():
            print("perfbench: building engine from source", file=sys.stderr)
            staging = base / f"staging-{os.getpid()}"
            shutil.rmtree(staging, ignore_errors=True)
            _scalac(jars, jar_cp, staging / "main", main_src)
            _scalac(jars, f"{staging / 'main'}:{jar_cp}", staging / "bench", bench_src)
            for old in base.iterdir():
                if old.is_dir() and old != staging:
                    shutil.rmtree(old, ignore_errors=True)
            staging.rename(final)
    return f"{final / 'main'}:{final / 'bench'}:{jar_cp}"
