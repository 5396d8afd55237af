#!/usr/bin/env python3
"""Build the engine plus the benchmark harness from source.

Compiles every Scala file under ``src/main/scala`` (the engine) and
``perfbench/src`` (the harness) with the Scala compiler that ships in the
Spark distribution's ``jars`` directory, against those same jars. The
output goes to ``.bench_build/perfbench-<hash>/classes`` in the checkout,
keyed by a hash of every source, so a rebuild happens only when a source
changes. Usage: ``python3 perfbench/build.py`` (prints the classes dir).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jars: $SPARK_HOME/jars, else next to the
    spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources() -> list:
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT / 'src/main/scala'}")
    harness = sorted((ROOT / "perfbench" / "src").rglob("*.scala"))
    if not harness:
        raise BuildError("no harness sources under perfbench/src")
    return engine + harness


def resources() -> Path:
    return ROOT / "src" / "main" / "resources"


def build(log=sys.stderr) -> Path:
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for s in srcs:
        h.update(str(s.relative_to(ROOT)).encode())
        h.update(s.read_bytes())
    out = BUILD / f"perfbench-{h.hexdigest()[:16]}"
    classes = out / "classes"
    if (out / "complete").exists():
        return classes
    if out.exists():
        shutil.rmtree(out)
    tmp = out / "classes.tmp"
    tmp.mkdir(parents=True)
    cp = os.pathsep.join(str(j) for j in sorted(jars.glob("*.jar")))
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={out}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    print(f"perfbench: compiling {len(srcs)} sources", file=log, flush=True)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if p.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BuildError("scalac failed:\n" + p.stdout[-4000:])
    tmp.rename(classes)
    (out / "complete").write_text("ok\n")
    # builds of other source states are stale
    for old in BUILD.glob("perfbench-*"):
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
