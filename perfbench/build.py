"""Builds the program and the benchmark driver from source with scalac.

The Scala compiler, the Scala library and Spark all ship in Spark's `jars`
directory (`$SPARK_HOME/jars`, or the `unmanagedBase` that `build.sbt`
names), so no build tool or network is needed. Classes land under
`.bench_build/perfbench/` in the checkout and are rebuilt only when a
source file changes.
"""
import hashlib
import os
import re
import shutil
import subprocess
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent


class BuildError(RuntimeError):
    pass


def spark_jars(root):
    """The Spark/Scala jar list the program compiles and runs against."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = root / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            candidates.append(Path(m.group(1)))
    for c in candidates:
        jars = sorted(c.glob("*.jar"))
        if any(j.name.startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError("no Spark jars directory with a Scala compiler (set SPARK_HOME)")


def _sources(root):
    program = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {root}/src/main/scala")
    return program, sorted((BENCH_DIR / "scala").glob("*.scala"))


def _scalac(jars, classpath, out, files):
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in jars)
    cmd = ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", str(out), "-classpath", os.pathsep.join([*classpath, cp]),
           *[str(f) for f in files]]
    p = subprocess.run(cmd, capture_output=True, text=True)
    if p.returncode != 0:
        raise BuildError(f"scalac failed:\n{p.stdout[-4000:]}{p.stderr[-4000:]}")


def _stamp(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _compile_if_changed(jars, classpath, out, files, stamp):
    """Recompiles `files` into `out` unless `stamp` is what the last
    successful compile of `out` recorded."""
    mark = out.parent / f"{out.name}.stamp"
    if mark.is_file() and mark.read_text() == stamp:
        return
    mark.unlink(missing_ok=True)
    _scalac(jars, classpath, out, files)
    mark.write_text(stamp)


def build(root):
    """Compiles what changed; returns the runtime classpath as a list."""
    root = Path(root).resolve()
    jars = spark_jars(root)
    program, bench = _sources(root)
    base = root / ".bench_build" / "perfbench"
    prog_out, bench_out = base / "program", base / "driver"
    prog_stamp = _stamp(root, program)
    _compile_if_changed(jars, [], prog_out, program, prog_stamp)
    # the driver is recompiled whenever the program is
    _compile_if_changed(jars, [str(prog_out)], bench_out, bench,
                        prog_stamp + _stamp(root, bench))
    return [str(bench_out), str(prog_out), *[str(j) for j in jars]]
