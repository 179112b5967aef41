#!/usr/bin/env python3
"""Build the benchmark harness: the engine's main sources plus
perfbench/src, compiled together with the Scala compiler that ships in
Spark's own jars directory, into .bench_build/classes.

Run from the root of a checkout:  python3 perfbench/build.py
Rebuilds only when a source file changed (content hash stamp).
"""
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BUILD = Path(".bench_build")
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.stamp"


def spark_jars():
    """Spark's jars directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: cannot find Spark (set SPARK_HOME)")
    return Path(home) / "jars"


def sources():
    main = sorted(Path("src/main/scala").rglob("*.scala"))
    bench = sorted(Path("perfbench/src").rglob("*.scala"))
    if not main:
        raise SystemExit("perfbench: no engine sources under src/main/scala; "
                         "run from the root of a checkout")
    if not bench:
        raise SystemExit("perfbench: no harness sources under perfbench/src")
    return main + bench


def build():
    """Compile if needed; returns the classpath to run the harness with."""
    jars = spark_jars()
    classpath = f"{CLASSES}{os.pathsep}{jars}/*"
    srcs = sources()
    digest = hashlib.sha256()
    for src in srcs:
        digest.update(str(src).encode())
        digest.update(src.read_bytes())
    stamp = digest.hexdigest()
    if STAMP.exists() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return classpath
    staging = BUILD / "classes.new"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", str(staging), "-cp", f"{jars}/*"] + [str(s) for s in srcs]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    done = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({done.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    staging.rename(CLASSES)
    STAMP.write_text(stamp)
    return classpath


if __name__ == "__main__":
    build()
