"""Build file of the summarizer benchmark.

Compiles the program (src/main/scala) together with the benchmark harness
(sumbench/src) and its self-tests (sumbench/test) into
.bench_build/classes, with the Scala compiler that ships among Spark's jars
(the same jar directory the repository's build.sbt compiles against). A
stamp of the sources' hash skips the compile when nothing changed.

    python3 sumbench/build.py
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = Path(__file__).resolve().parent
OUT = ROOT / ".bench_build"
CLASSES = OUT / "classes"
SCALAC_OPTS = ["-nowarn", "-encoding", "UTF-8"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    raise BuildError("no Spark jars: set SPARK_HOME or build.sbt's unmanagedBase")


def sources() -> list:
    program = ROOT / "src" / "main" / "scala"
    if not program.is_dir():
        raise BuildError(f"no program sources at {program.relative_to(ROOT)}")
    found = []
    for d in (program, BENCH / "src", BENCH / "test"):
        found += sorted(d.rglob("*.scala"))
    return found


def jvm_env_opts() -> list:
    """Keep the JVM's scratch files inside the build directory."""
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build() -> Path:
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    h.update(" ".join(SCALAC_OPTS).encode())
    h.update(",".join(sorted(p.name for p in jars.glob("scala-*.jar"))).encode())
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = h.hexdigest()
    stamp_file = CLASSES / ".stamp"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return CLASSES

    staging = OUT / "classes.staging"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    argfile = OUT / "scalac.args"
    argfile.write_text("\n".join(str(p) for p in srcs) + "\n")
    cp = f"{jars}/*"
    cmd = (["java", "-Xss8m", "-Xmx2g"] + jvm_env_opts()
           + ["-cp", cp, "scala.tools.nsc.Main", "-d", str(staging), "-classpath", cp]
           + SCALAC_OPTS + [f"@{argfile}"])
    print(f"sumbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac exited with {r.returncode}")
    (staging / ".stamp").write_text(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"sumbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
