#!/usr/bin/env python3
"""Build file of the benchmark package.

    python3 perfbench/build.py

Compiles the program (`src/main/scala`) together with the harness
(`perfbench/src`) into `<build>/classes`, where <build> is
$CARGO_TARGET_DIR or `.bench_build` under the checkout root. It uses the
Scala compiler that ships with Spark ($SPARK_HOME/jars, else the
installed pyspark package's jars), so no build tool or network is needed. A stamp of
the sources' hash skips the compile when nothing changed. Prints the
runtime classpath.
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def build_dir() -> Path:
    return ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    if "SPARK_HOME" in os.environ:
        jars = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        try:
            import pyspark
        except ImportError:
            raise SystemExit("set SPARK_HOME to a Spark 4 installation")
        jars = Path(pyspark.__file__).parent / "jars"
    if not any(jars.glob("spark-sql_*.jar")) or not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"no Spark and Scala compiler jars under {jars}; set SPARK_HOME")
    return jars


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"program sources missing: {main}")
    return sorted(main.rglob("*.scala")) + sorted((ROOT / "perfbench" / "src").glob("*.scala"))


def build() -> str:
    """Compiles if needed; returns the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    out = build_dir() / "classes"
    h = hashlib.sha256()
    for p in srcs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    stamp = build_dir() / "classes.stamp"
    cp = f"{out}{os.pathsep}{jars}/*"
    if stamp.exists() and stamp.read_text() == h.hexdigest():
        return cp
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={build_dir()}",
           "-cp", f"{jars}/*", "scala.tools.nsc.Main", "-nowarn", "-d", str(out),
           "-classpath", f"{jars}/*"] + [str(p) for p in srcs]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"compile failed ({r.returncode})")
    stamp.write_text(h.hexdigest())
    return cp


if __name__ == "__main__":
    print(build())
