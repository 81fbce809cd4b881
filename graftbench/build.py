"""Build file of the benchmark: compiles the engine (`src/main/scala`) and
the benchmark sources (`graftbench/src`) with the Scala compiler that
ships in the Spark distribution's `jars/` directory, into
`.bench_build/classes-<digest>`. The digest covers every source file, so
an unchanged tree is compiled once.

    python3 graftbench/build.py        # prints the classes directory
"""

import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "graftbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RES = ROOT / "src" / "main" / "resources"
OUT = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jar directory (`$SPARK_HOME/jars`, else
    the one beside `spark-submit` on the PATH)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")
    return jars


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources missing: {ENGINE_SRC.relative_to(ROOT)}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources found")
    return files


def digest(files: list, jars: Path) -> str:
    h = hashlib.sha256()
    h.update(",".join(sorted(p.name for p in jars.glob("*.jar"))).encode())
    res = sorted(ENGINE_RES.rglob("*")) if ENGINE_RES.is_dir() else []
    for p in files + [r for r in res if r.is_file()]:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(log=sys.stderr) -> Path:
    """Compile if needed; return the classes directory."""
    jars = spark_jars()
    files = sources()
    classes = OUT / f"classes-{digest(files, jars)}"
    if (classes / ".complete").exists():
        return classes
    tmp = OUT / f"{classes.name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = tmp / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in files) + "\n")
    cp = str(jars / "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"compiling {len(files)} Scala files into {classes.relative_to(ROOT)}", file=log)
    done = subprocess.run(cmd, stdout=log, stderr=log, timeout=840)
    if done.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {done.returncode}")
    argfile.unlink()
    if ENGINE_RES.is_dir():
        shutil.copytree(ENGINE_RES, tmp, dirs_exist_ok=True)
    (tmp / ".complete").write_text("ok\n")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    for stale in OUT.glob("classes-*"):
        if stale != classes:
            shutil.rmtree(stale, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
