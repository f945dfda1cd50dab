#!/usr/bin/env python3
"""Build file of the benchmark. From the repository root:
    python3 perfbench/build.py

1. Compiles graft's sources (src/main/scala) and the benchmark's JVM
   harness (perfbench/scala) with the Scala compiler that ships in Spark's
   jar directory (`$SPARK_HOME/jars`), and packs the classes into
   `.bench_build/graft.jar`.
2. Runs the harness once in training mode, which
   - loads the base day (generated from gen.BASE_SEED) into
     `.bench_build/base-zones`: the zones every DWH run copies and loads
     its seed's delta day on top of, and
   - runs both pipelines once with `-XX:ArchiveClassesAtExit`, so the JVM
     writes a class-data archive (`.bench_build/graft.jsa`) of every class
     they load; benchmark runs map it instead of loading those classes.

A stamp holding the hash of every input (sources, harness, generator and
this file) skips all of it when nothing changed.
"""
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import zipfile

ROOT = pathlib.Path(__file__).resolve().parent.parent
HERE = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
JAR = BUILD / "graft.jar"
ARCHIVE = BUILD / "graft.jsa"
BASE_ZONES = BUILD / "base-zones"
STAMP = BUILD / "build.stamp"
CORES = 4
# a fixed heap (-Xms = -Xmx): G1 sizes a free heap by timing-dependent
# heuristics, which made peak RSS of one workload read 1.5 to 2.1 GB
HEAP = "2g"
# no hsperfdata file: the JVM would write it under /tmp, outside the checkout
NO_PERF_DATA = "-XX:-UsePerfData"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spark_jars() -> str:
    jars = pathlib.Path(os.environ.get("SPARK_HOME", ".")) / "jars"
    if not any(jars.glob("scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler under {jars} (set SPARK_HOME)")
    return str(jars / "*")


def sources() -> list:
    main = ROOT / "src" / "main" / "scala"
    files = sorted(main.rglob("*.scala")) + sorted((HERE / "scala").rglob("*.scala"))
    if not list(main.rglob("*.scala")):
        raise SystemExit(f"build: no graft sources under {main}")
    return files


def java(work, args, extra=()):
    """Harness command line: fixed heap, no perf data, the run's own tmp dir,
    the module opens Spark needs, graft.jar then Spark's jars."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", NO_PERF_DATA,
           f"-Djava.io.tmpdir={work / 'tmp'}", *extra]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", f"{JAR}{os.pathsep}{spark_jars()}", "perfbench.Harness",
                  "--work", str(work), "--cpus", str(CORES)] + args


def run_jvm(cmd, work, timeout):
    """Runs one harness JVM with its output in work/jvm.log; never leaves
    the process behind, also when interrupted."""
    log = open(work / "jvm.log", "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if code != 0:
        sys.stderr.write((work / "jvm.log").read_text(errors="replace")[-3000:])
        raise SystemExit(f"harness exited {code}")


def compile_jar():
    classes = BUILD / "classes"
    shutil.rmtree(classes, ignore_errors=True)
    classes.mkdir(parents=True)
    cmd = ["java", "-Xmx2g", "-Xss8m", NO_PERF_DATA, f"-Djava.io.tmpdir={BUILD}",
           "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(classes)] + [str(f) for f in sources()]
    # cwd is the build dir: scalac puts "." on its classpath by default
    r = subprocess.run(cmd, cwd=BUILD, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    # the class-data archive only takes classes from jars
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())
    shutil.rmtree(classes)


def train():
    sys.path.insert(0, str(HERE))
    import gen
    work = BUILD / "train"
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(BASE_ZONES, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    gen.generate(gen.BASE_SEED, work / "in", "dwh")
    gen.generate(gen.BASE_SEED, work / "in", "corpus")
    run_jvm(java(work, ["--pipeline", "train", "--in", str(work / "in"),
                        "--base-zones", str(BASE_ZONES), "--min-iters", "1",
                        "--out", str(work / "result.json")],
                 [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]), work, 600)
    shutil.rmtree(work)


def digest() -> str:
    h = hashlib.sha256()
    for f in sources() + [HERE / "gen.py", HERE / "build.py"]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Builds when an input changed since the last build."""
    d = digest()
    if STAMP.exists() and STAMP.read_text() == d and ARCHIVE.exists() and BASE_ZONES.is_dir():
        return
    BUILD.mkdir(exist_ok=True)
    STAMP.unlink(missing_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    compile_jar()
    train()
    STAMP.write_text(d)


if __name__ == "__main__":
    build()
    print(f"built {JAR}, {ARCHIVE} and {BASE_ZONES}")
