#!/usr/bin/env python3
"""Build (once per checkout) and run graft's end-to-end benchmark.

    python3 graftbench/run.py --workload tsdb_read --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds: it compiles graft's
sources together with the benchmark (an sbt build in this directory),
records the runtime classpath, and sets up and warms up every workload once
in a JVM that archives the classes it loaded (application class data
sharing). Later runs start the JVM directly on that archive. Every input is
generated from --seed inside a scratch directory under this one, which is
removed when the run ends. The last line of standard output is the result
as one JSON object.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CLASSPATH = HERE / "target" / "runtime-classpath.txt"
ARCHIVE = HERE / "target" / "classes.jsa"
WORKLOADS = ("tsdb_read", "ingest_routed", "corpus_pipeline")
# A run must end within this many seconds once the program is built.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home:
        return home
    submit = shutil.which("spark-submit")
    if not submit:
        fail("cannot find Spark: set SPARK_HOME or put spark-submit on PATH")
    return str(Path(submit).resolve().parent.parent)


def inputs():
    """What the build reads, and the jars the class archive was made from."""
    for base in (ROOT / "src" / "main", HERE / "src" / "main"):
        for p in base.rglob("*"):
            if p.is_file():
                yield p
    yield HERE / "build.sbt"
    for jar in CLASSPATH.read_text().strip().split(os.pathsep):
        if jar.startswith(str(HERE)):
            yield Path(jar)


def build_needed():
    if not (CLASSPATH.exists() and ARCHIVE.exists()):
        return True
    built = ARCHIVE.stat().st_mtime
    return any(not p.exists() or p.stat().st_mtime > built for p in inputs())


def java(work, main, args, extra=()):
    return (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
             "-Dspark.ui.enabled=false", *extra]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", CLASSPATH.read_text().strip(), main, *args])


def run_java(cmd, env, limit, stdout=None):
    """Run a JVM, and stop it if this launcher is stopped or it overruns."""
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=stdout)

    def stop(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return proc.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        print("graftbench: run exceeded its time limit", file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def in_work(name, f):
    """Call f with a fresh scratch directory, removed afterwards."""
    work = HERE / "work" / f"{name}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        return f(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass


def build(env):
    print("graftbench: building", file=sys.stderr)
    cmd = ["sbt", "-batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           "writeClasspath"]
    # its own process group, so a timeout stops sbt's JVM as well as the script
    proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        code = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code is None:
        fail("build timed out")
    if code != 0 or not CLASSPATH.exists():
        fail(f"build failed (exit {code})")
    # Every measured run starts from the same class archive, so class
    # loading costs the same in each and does not swamp set-up time.
    print("graftbench: archiving classes", file=sys.stderr)
    ARCHIVE.unlink(missing_ok=True)
    code = in_work("archive", lambda work: run_java(
        java(work, "graftbench.WarmAll", [str(work)], [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]),
        env, RUN_LIMIT_S, stdout=sys.stderr))
    if code != 0 or not ARCHIVE.exists():
        fail(f"class archive failed (exit {code})")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"graft sources not found under {ROOT / 'src' / 'main' / 'scala'}")
    env = dict(os.environ, SPARK_HOME=spark_home())
    # Spark's scratch space stays in the run's work directory, not wherever
    # the environment points it
    env.pop("SPARK_LOCAL_DIRS", None)
    if build_needed():
        build(env)

    spans = HERE / "traces"
    sys.exit(in_work(f"{args.workload}-{args.seed}", lambda work: run_java(
        java(work, "graftbench.Main",
             ["--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", args.trace,
              "--work", str(work), "--spans", str(spans)],
             [f"-XX:SharedArchiveFile={ARCHIVE}"]),
        env, RUN_LIMIT_S)))


if __name__ == "__main__":
    main()
