#!/usr/bin/env python3
"""Builds the benchmark: the engine (`src/main/scala`) and the benchmark
runner (`perfbench/src`) compiled together with the Scala compiler that
ships in the Spark distribution: `$SPARK_HOME/jars`, or else the jar
directory the repository's `build.sbt` names as `unmanagedBase`.

    python3 perfbench/build.py

Classes go to `$CARGO_TARGET_DIR` (default `.bench_build`) under the root
of the checkout, one directory per source hash; an unchanged tree is not
compiled again.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD_LIMIT_S = 840


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars() -> Path:
    if os.environ.get("SPARK_HOME"):
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text() if sbt.exists() else "")
        if not m:
            fail("set SPARK_HOME to a Spark distribution")
        jars = Path(m.group(1))
    if not any(jars.glob("scala-compiler-*.jar")):
        fail(f"no Spark distribution with a Scala compiler at {jars}")
    return jars


def build(jars: Path) -> tuple:
    """Compiles engine + benchmark sources unless this source hash is built;
    returns the classes directory and whether it was compiled now."""
    sources = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not sources:
        fail(f"no engine sources under {ROOT / 'src' / 'main' / 'scala'}")
    sources += sorted((BENCH / "src").rglob("*.scala"))
    h = hashlib.sha256()
    for p in sources:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = out / f"classes-{h.hexdigest()[:16]}"
    if classes.is_dir():
        return classes, False
    shutil.rmtree(out, ignore_errors=True)
    tmp = out / "tmp"
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    cp = f"{jars}/*"
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
         "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compilation failed")
    tmp.rename(classes)
    return classes, True



if __name__ == "__main__":
    print(build(spark_jars())[0])
