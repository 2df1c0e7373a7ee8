"""Build file of the benchmark: compiles the engine (src/main/scala) and
the benchmark program (perfbench/src) with the Scala compiler that ships
in the Spark distribution, packs the classes and the engine's resources
into .bench_build/perfbench/perfbench.jar, and dumps a class-data
sharing archive of the classes a tiny run loads (app.jsa), so that each
benchmark JVM starts Spark without parsing those classes again.

A build is skipped when the sources are unchanged since the last one
(a content hash is kept next to the jar).

    python3 perfbench/build.py        # build if needed, print the classpath
"""

import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH_SRC = ROOT / "perfbench" / "src"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
ENGINE_RESOURCES = ROOT / "src" / "main" / "resources"
OUT = ROOT / ".bench_build" / "perfbench"
JAR = OUT / "perfbench.jar"
ARCHIVE = OUT / "app.jsa"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The jars directory of the installed Spark distribution."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(os.path.realpath(submit)).parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def java() -> str:
    home = os.environ.get("JAVA_HOME")
    exe = Path(home) / "bin" / "java" if home else None
    if exe is not None and exe.exists():
        return str(exe)
    found = shutil.which("java")
    if not found:
        raise BuildError("no java found (set JAVA_HOME)")
    return found


def sources() -> list:
    if not ENGINE_SRC.is_dir():
        raise BuildError(f"engine sources not found at {ENGINE_SRC}")
    files = sorted(ENGINE_SRC.rglob("*.scala")) + sorted(BENCH_SRC.rglob("*.scala"))
    if not any(BENCH_SRC.rglob("*.scala")):
        raise BuildError(f"benchmark sources not found at {BENCH_SRC}")
    return files


def resources() -> list:
    return sorted(f for f in ENGINE_RESOURCES.rglob("*") if f.is_file())


def stamp(files: list, jars: Path) -> str:
    h = hashlib.sha256(str(jars).encode())
    h.update(Path(__file__).read_bytes())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def jvm(classpath: str, mem: str, tmpdir: Path, *flags: str) -> list:
    """The java command line of a benchmark JVM, up to the main class."""
    # JVM warnings go to stderr: stdout carries the result lines only
    cmd = [java(), f"-Xmx{mem}", f"-Xms{mem}", "-XX:-UsePerfData",
           "-Xlog:all=warning:stderr", f"-Djava.io.tmpdir={tmpdir}", *flags]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath]


def compile_jar(scala: list, res: list, jars: Path) -> None:
    tmp = OUT / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = OUT / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in scala) + "\n")
    cp = str(jars / "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={OUT}",
           "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                          text=True, timeout=840)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout)
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    # a class-data sharing archive takes classes from jars only
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for root, fs in ((tmp, sorted(f for f in tmp.rglob("*") if f.is_file())),
                         (ENGINE_RESOURCES, res)):
            for f in fs:
                z.write(f, f.relative_to(root).as_posix())
    shutil.rmtree(tmp)


def dump_archive(classpath: str) -> None:
    """Record the classes a tiny dashboard run loads into ARCHIVE. A
    failed dump only leaves the benchmark without the archive."""
    work = OUT / "archive-run"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = jvm(classpath, "1g", work / "tmp", f"-XX:ArchiveClassesAtExit={ARCHIVE}")
    cmd += ["perfbench.Main", "--workload", "cf_dashboard", "--seed", "1",
            "--seconds", "1", "--trace", "0", "--work", str(work),
            "--cores", "4", "--tiny", "1", "--perturb", "0"]
    try:
        subprocess.run(cmd, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=300)
    except subprocess.TimeoutExpired:
        ARCHIVE.unlink(missing_ok=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def build() -> tuple:
    """Compile if needed; returns the runtime classpath and the JVM flags
    that map the class-data sharing archive (none without one)."""
    jars = spark_jars()
    scala, res = sources(), resources()
    classpath = os.pathsep.join([str(JAR), str(jars / "*")])
    want = stamp(scala + res, jars)
    stamp_file = OUT / "build.sha256"
    if not (JAR.exists() and stamp_file.exists()
            and stamp_file.read_text().strip() == want):
        OUT.mkdir(parents=True, exist_ok=True)
        stamp_file.unlink(missing_ok=True)
        ARCHIVE.unlink(missing_ok=True)
        compile_jar(scala, res, jars)
        dump_archive(classpath)
        stamp_file.write_text(want + "\n")
    flags = [f"-XX:SharedArchiveFile={ARCHIVE}"] if ARCHIVE.exists() else []
    return classpath, flags


if __name__ == "__main__":
    try:
        print(build()[0])
    except BuildError as e:
        sys.exit(f"perfbench build: {e}")
