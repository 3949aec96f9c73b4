#!/usr/bin/env python3
"""Build file of the benchmark: compiles the library (`src/main/scala`)
together with the benchmark program (`perfbench/scala`) with the Scala
compiler that ships among the Spark jars, then writes the registry's
oracle SQL next to the classes.

    python3 perfbench/build.py            # from the repository root

Output goes to `$CARGO_TARGET_DIR/perfbench` (default `.bench_build`).
A stamp of every source file's content skips the compile when nothing
changed.
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

ORACLE_QUERIES = ["q60_medallion_profile", "q61_medallion_portfolio"]

# Spark's own JavaModuleOptions: needed to run Spark outside spark-submit.
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


class BuildError(Exception):
    pass


def build_dir(root: str) -> str:
    return os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def spark_jars(root: str) -> str:
    """The Spark jar directory the repository's own build declares."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(root, "build.sbt")
    if not os.path.exists(sbt):
        raise BuildError("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    if not m or not os.path.isdir(m.group(1)):
        raise BuildError("no Spark jar directory (set SPARK_HOME)")
    return m.group(1)


def sources(root: str) -> list:
    found = []
    for d in ("src/main/scala", "perfbench/scala"):
        found += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    if not any("/src/main/scala/" in f for f in found):
        raise BuildError("library sources (src/main/scala) not found")
    return sorted(found)


def source_digest(files: list, root: str) -> str:
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root: str, log=sys.stderr) -> dict:
    """Compile if any source changed; return {digest, classpath, oracle_sql}."""
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    files = sources(root)
    digest = source_digest(files, root)
    stamp = os.path.join(out, "stamp")
    oracle = os.path.join(out, "oracle_sql.json")
    jars = os.path.join(spark_jars(root), "*")
    if not (os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(oracle)):
        print(f"[perfbench] compiling {len(files)} sources", file=log, flush=True)
        subprocess.run(["rm", "-rf", classes, stamp], check=True)
        os.makedirs(classes)
        argfile = os.path.join(out, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(files))
        r = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
                            "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
                           stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError("scalac failed")
        r = subprocess.run(["java", "-cp", classes + os.pathsep + jars,
                            "graft.perfbench.OracleSql", oracle] + ORACLE_QUERIES,
                           stdout=log, stderr=log)
        if r.returncode != 0:
            raise BuildError("oracle SQL export failed")
        with open(stamp, "w") as f:
            f.write(digest)
    return {"digest": digest, "classpath": classes + os.pathsep + jars, "oracle_sql": oracle}


if __name__ == "__main__":
    try:
        print(build(os.getcwd())["digest"])
    except BuildError as e:
        sys.exit(f"build failed: {e}")
