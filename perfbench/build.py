#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark
harness (`perfbench/src`) with the Scala compiler that ships in the Spark
distribution's `jars/` directory, and packs the classes into
`.bench_build/graft.jar`. The build is skipped when a fingerprint of every
source file matches the last one.

    python3 perfbench/build.py      # prints the jar path
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"


def spark_jars() -> Path:
    """`jars/` of the Spark distribution: `$SPARK_HOME`, else the one whose
    `bin/spark-submit` is on PATH."""
    homes = [os.environ["SPARK_HOME"]] if os.environ.get("SPARK_HOME") else [
        (Path(d) / "spark-submit").resolve().parent.parent
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in homes:
        jars = Path(home) / "jars"
        if any(jars.glob("spark-core_*.jar")):
            return jars
    raise SystemExit("Spark distribution not found: set SPARK_HOME")


def sources() -> list:
    program = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not program:
        raise SystemExit("no program sources under src/main/scala")
    return program + sorted((HERE / "src").rglob("*.scala"))


def build() -> Path:
    """Compile if any source changed; return the jar."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = BUILD / "graft.jar.stamp"
    jar = BUILD / "graft.jar"
    if jar.is_file() and stamp.is_file() and stamp.read_text() == h.hexdigest():
        return jar
    jars = spark_jars()
    compiler = [str(next(jars.glob(f"scala-{n}-2.13*.jar")))
                for n in ("compiler", "library", "reflect")]
    tmp = BUILD / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    t0 = time.time()
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
         "scala.tools.nsc.Main", "-nowarn", "-d", str(tmp),
         "-classpath", str(jars / "*")] + [str(p) for p in srcs],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("scalac failed")
    with zipfile.ZipFile(BUILD / "graft.jar.tmp", "w") as z:
        for f in sorted(tmp.rglob("*.class")):
            z.write(f, f.relative_to(tmp).as_posix())
    shutil.rmtree(tmp)
    (BUILD / "graft.jar.tmp").replace(jar)
    stamp.write_text(h.hexdigest())
    print(f"[perfbench] compiled {len(srcs)} files in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return jar


if __name__ == "__main__":
    print(build())
