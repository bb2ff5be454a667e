#!/usr/bin/env python3
"""Build the benchmark: compile the engine sources (src/main/scala) together
with the benchmark driver (graftbench/src) into .bench_build/graftbench.jar,
then dump a class-data-sharing archive (.bench_build/classes.jsa) of the
classes a Spark session start and every workload's set-up load, which
halves the JVM's start-up on every run.

The Scala compiler and the Spark runtime are taken from the Spark
distribution (SPARK_HOME, or the one whose spark-submit is on PATH), so the
build needs no dependency resolution. A stamp over every source file makes
repeated runs skip the build.

Usage: python3 graftbench/build.py    (from the repository root)
"""
import fcntl
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

BENCH_DIR = pathlib.Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
BUILD = ROOT / ".bench_build"
JAR = BUILD / "graftbench.jar"
ARCHIVE = BUILD / "classes.jsa"
STAMP = BUILD / "classes.stamp"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
# JVM flags shared by the archive dump and the runs (an archive is only
# used by a JVM started like the one that dumped it)
JVM_FLAGS = ["-Xmx3g", "-XX:-UsePerfData", "-XX:+UseParallelGC"] + \
    [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BuildError(Exception):
    pass


def spark_jars() -> pathlib.Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit is None:
            raise BuildError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
        home = str(pathlib.Path(submit).resolve().parent.parent)
    jars = pathlib.Path(home) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError(f"{jars} holds no scala-compiler jar")
    return jars


def java_bin() -> str:
    home = os.environ.get("JAVA_HOME")
    if home and (pathlib.Path(home) / "bin" / "java").exists():
        return str(pathlib.Path(home) / "bin" / "java")
    java = shutil.which("java")
    if java is None:
        raise BuildError("no java on PATH")
    return java


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found under {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH_DIR / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no Scala sources")
    return files


def stamp_of(files, jars) -> str:
    h = hashlib.sha256()
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def classpath(jars: pathlib.Path) -> str:
    return f"{JAR}:{jars / '*'}"


def build(quiet: bool = False) -> pathlib.Path:
    """Build if any source changed; return the jar."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    BUILD.mkdir(parents=True, exist_ok=True)
    with open(BUILD / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)  # one build at a time per checkout
        if not (JAR.is_file() and STAMP.exists() and STAMP.read_text() == stamp):
            STAMP.unlink(missing_ok=True)
            compile_into(files, jars, quiet)
            dump_archive(jars, quiet)
            STAMP.write_text(stamp)
    return JAR


def dump_archive(jars: pathlib.Path, quiet: bool) -> None:
    """Sets every workload up once, dumping the classes it loaded. Without
    an archive the runs still work, only their JVMs start slower."""
    ARCHIVE.unlink(missing_ok=True)
    scratch = BUILD / "archive-run"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    cmd = [java_bin()] + JVM_FLAGS + [
        f"-XX:ArchiveClassesAtExit={ARCHIVE}", f"-Djava.io.tmpdir={scratch}",
        f"-Dlog4j2.configurationFile={BENCH_DIR / 'log4j2.properties'}",
        "-cp", classpath(jars), "graftbench.SessionStart", str(scratch)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(scratch))
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                          env=env)
    shutil.rmtree(scratch, ignore_errors=True)
    if proc.returncode != 0 or not ARCHIVE.is_file():
        ARCHIVE.unlink(missing_ok=True)
        if not quiet:
            print(f"[graftbench] no class archive (exit {proc.returncode}): "
                  f"{proc.stdout[-2000:]}", file=sys.stderr)


def compile_into(files, jars, quiet: bool) -> None:
    out = BUILD / "classes.tmp"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    argfile = BUILD / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files) + "\n")
    cp = str(jars / "*")
    cmd = [java_bin(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={BUILD}", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-deprecation:false", "-d", str(out), "-cp", cp, f"@{argfile}"]
    if not quiet:
        print(f"[graftbench] compiling {len(files)} sources", file=sys.stderr)
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-20000:])
        raise BuildError(f"scalac exited with {proc.returncode}")
    tmp_jar = BUILD / "graftbench.jar.tmp"
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(p for p in out.rglob("*") if p.is_file()):
            z.write(f, f.relative_to(out).as_posix())
    shutil.rmtree(out, ignore_errors=True)
    tmp_jar.replace(JAR)


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[graftbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
