"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark (perfbench/src) into .bench_build/classes with the Scala
compiler that ships in Spark's jar directory, and copies both resource
trees next to the classes. Rebuilds only when an input changed.

    python3 perfbench/build.py      # from the repository root
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

HOME = Path(__file__).resolve().parent.parent


def _spark_jars(home):
    """The jar directory the program's own build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    sbt = home / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                  sbt.read_text()) if sbt.is_file() else None
    if m:
        return Path(m.group(1))
    return Path(os.environ.get("SPARK_HOME", "")) / "jars"


SPARK_JARS = _spark_jars(HOME)
BUILD_TIMEOUT_S = 800


class BuildError(Exception):
    pass


def _inputs(home):
    program = sorted((home / "src/main/scala").rglob("*.scala"))
    if not program:
        raise BuildError(f"no program sources under {home / 'src/main/scala'}")
    sources = program + sorted((home / "perfbench/src").rglob("*.scala"))
    resources = []
    for root in (home / "src/main/resources", home / "perfbench/resources"):
        if root.is_dir():
            resources += [(root, p) for p in sorted(root.rglob("*")) if p.is_file()]
    return sources, resources


def build(home=HOME):
    """Return the classes directory, compiling first if needed."""
    sources, resources = _inputs(home)
    compiler = sorted(SPARK_JARS.glob("scala-compiler-*.jar"))
    if not compiler:
        raise BuildError(f"no scala-compiler jar in {SPARK_JARS}")
    digest = hashlib.sha256(compiler[-1].name.encode())
    for p in sources + [p for _, p in resources]:
        digest.update(str(p.relative_to(home)).encode() + b"\0" + p.read_bytes() + b"\0")
    out = home / ".bench_build"
    classes, stamp = out / "classes", out / "stamp"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes
    staging = out / "classes.tmp"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources) + "\n")
    jars = f"{SPARK_JARS}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-classpath", jars, f"@{argfile}"]
    try:
        done = subprocess.run(cmd, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise BuildError(f"compile took over {BUILD_TIMEOUT_S} s")
    if done.returncode != 0:
        raise BuildError(f"compile failed with code {done.returncode}")
    for root, p in resources:
        dst = staging / p.relative_to(root)
        dst.parent.mkdir(parents=True, exist_ok=True)
        shutil.copyfile(p, dst)
    shutil.rmtree(classes, ignore_errors=True)
    staging.rename(classes)
    stamp.write_text(digest.hexdigest())
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.exit(f"build: {e}")
