"""Build the engine and the benchmark from source with the Scala compiler
that ships with the Spark distribution (no sbt, no downloads).

    python3 perfbench/build.py        # prints the build directory

Output goes to perfbench/.build/<digest of every source file>/: the compiled
classes as perfbench.jar and a class-data-sharing archive (classes.jsa)
recorded from one self-test run. An unchanged tree is built once and a
changed one is never run stale.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
HEAP = "3g"
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """$SPARK_HOME/jars, else the jars directory the sbt build compiles
    against (`unmanagedBase` in build.sbt)."""
    if os.environ.get("SPARK_HOME"):
        cand = Path(os.environ["SPARK_HOME"]) / "jars"
    else:
        sbt = ROOT / "build.sbt"
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      sbt.read_text() if sbt.exists() else "")
        cand = Path(m.group(1)) if m else None
    if cand is None or not cand.is_dir():
        raise BuildError("no Spark jars found (set SPARK_HOME)")
    return cand


def sources():
    engine = sorted((ROOT / "src" / "main" / "scala").rglob("*.scala"))
    if not engine:
        raise BuildError(f"engine sources not found under {ROOT / 'src/main/scala'}")
    return engine + sorted((HERE / "src").glob("*.scala"))


def java_cmd(build_dir: Path, cores: int, work: Path, args, extra=()):
    """The benchmark JVM's command line: Spark's JDK-17 module opens,
    ParallelGC with one thread per core, a fixed heap, temp files in `work`
    and the build's class-data-sharing archive when there is one."""
    cds = build_dir / "classes.jsa"
    return ["java", *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS],
            "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={cores}",
            "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m",
            *([f"-XX:SharedArchiveFile={cds}"] if cds.exists() else []), *extra,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{build_dir / 'perfbench.jar'}:{spark_jars()}/*",
            "perfbench.Main", "--cores", str(cores), "--work", str(work), *args]


def ensure_built() -> Path:
    """Return the build directory (perfbench.jar, classes.jsa), compiling
    first if the sources changed."""
    srcs = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for p in [*srcs, Path(__file__).resolve()]:  # the recipe is an input too
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    out = HERE / ".build" / h.hexdigest()[:20]
    if (out / "OK").exists():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    classes = tmp / "classes"
    classes.mkdir(parents=True)
    cp = f"{jars}/*"
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-d", str(classes), "-classpath", cp, *map(str, srcs)]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0 or not (classes / "perfbench").is_dir():
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError("compile failed:\n" + r.stdout[-4000:])
    # a jar, not a directory: class-data sharing only archives jar classes
    with zipfile.ZipFile(tmp / "perfbench.jar", "w") as z:
        for f in sorted(classes.rglob("*.class")):
            z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    train_cds(out)  # the archive records the jar's final path
    (out / "OK").write_text("ok\n")
    for old in (HERE / ".build").iterdir():  # keep only the current build
        if old != out:
            shutil.rmtree(old, ignore_errors=True)
    return out


def train_cds(build_dir: Path):
    """Record the classes a run loads into a class-data-sharing archive
    (one self-test run), cutting several seconds of class loading from every
    later run's set-up. Best effort: without it runs are only slower to start.
    The self-test's caches stay inside the build directory."""
    work = build_dir / "train"
    cores = len(os.sched_getaffinity(0))
    (work / "tmp").mkdir(parents=True)
    cmd = java_cmd(build_dir, cores, work,
                   ["--mode", "selftest", "--cache", str(work / "cache")],
                   [f"-XX:ArchiveClassesAtExit={build_dir / 'classes.jsa'}"])
    r = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL)
    if r.returncode != 0:
        (build_dir / "classes.jsa").unlink(missing_ok=True)
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        print(ensure_built())
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
