#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the program from
source (its own sbt project in perfbench/, outputs under .bench_build/);
later calls reuse the build while the sources are unchanged. The last line
of standard output is one JSON object with the keys correct, attempted,
failed and metrics. Workloads and metrics are described in
perfbench/WORKLOADS.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(BUILD, "perfbench", "perfbench.jar")
ARCHIVE = os.path.join(BUILD, "perfbench", "classes.jsa")
STAMP = os.path.join(BUILD, "perfbench", "sources.sha256")


def spark_home():
    """SPARK_HOME, or the installation that the spark-submit on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home or ""


SPARK_HOME = spark_home()
SPARK_JARS = os.path.join(SPARK_HOME, "jars")

BUILD_TIMEOUT_S = 540
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the root build passes to forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def interrupted(signum, frame):
    """SIGTERM unwinds like Ctrl-C, so that run_group stops the JVM and the
    finally clauses remove the scratch data."""
    raise KeyboardInterrupt


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    roots = [os.path.join(HERE, "src"), PROGRAM_SRC]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die(f"{cmd[0]} timed out after {timeout}s", 3)
    except BaseException:  # interrupted or terminated: take the group down too
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compile the program and the harness into one jar, then make the
    class-data archive that later JVMs start from."""
    digest = sources_digest()
    if os.path.exists(JAR) and os.path.exists(STAMP) and open(STAMP).read() == digest:
        return
    for f in (STAMP, ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    env = dict(os.environ, SPARK_HOME=SPARK_HOME)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false -XX:-UsePerfData").strip()
    code, _ = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile/packageBin"], BUILD_TIMEOUT_S,
                        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0 or not os.path.exists(JAR):
        die("build failed", 4)
    # one training JVM loads what the workloads load and dumps those classes
    # at exit; a run without the archive is only slower to start
    work = os.path.join(BUILD, "work", f"train-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, _ = java("perfbench.Train", [work], work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}", "-Xlog:cds=off"],
                       stdout=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        print("[perfbench] class-data training run failed; runs start without the archive", file=sys.stderr)
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def java(main, args, work, jvm_opts=(), stdout=subprocess.PIPE):
    cp = os.pathsep.join([JAR, os.path.join(SPARK_JARS, "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if not jvm_opts and os.path.exists(ARCHIVE):
        jvm_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    # C1 only: a run is too short for C2 to settle, and with C2 round times
    # kept falling by a quarter over a run, at a pace set by the host's load
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", *jvm_opts, *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Djava.awt.headless=true", "-Duser.language=en", "-Duser.country=US",
           "-cp", cp, main, *args]
    return run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=stdout, stderr=sys.stderr, text=True)


def main():
    signal.signal(signal.SIGTERM, interrupted)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=["image_pipeline", "corpus_dedup", "table_mix"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        die("--workload is required")
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "scala", "graft")):
        die(f"program sources not found under {os.path.relpath(PROGRAM_SRC, os.getcwd())}")
    if not os.path.isdir(SPARK_JARS):
        die("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")
    build()

    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        if a.selftest:
            code, out = java("perfbench.SelfTest", [], work)
            sys.stdout.write(out)
            sys.exit(code)
        code, out = java("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                            "--seconds", str(a.seconds), "--trace", str(a.trace),
                                            "--work", work], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        die(f"benchmark exited with code {code} without a result line", 1)
    if code != 0:
        die(f"benchmark exited with code {code}", 1)
    for ln in lines[:-1]:
        print(ln)
    print(lines[-1])


if __name__ == "__main__":
    try:
        main()
    except KeyboardInterrupt:
        die("interrupted", 130)
