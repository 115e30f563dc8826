#!/usr/bin/env python3
"""Runs one perfbench workload against the program in this checkout.

    python3 perfbench/run.py --workload train_tall --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

Run from the repository root. The first run builds the program and the
benchmark (perfbench/build.sh) into .bench_build/perfbench; later runs
reuse the build while the sources are unchanged. The last line of
standard output is the result as one JSON object; see perfbench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSES = BUILD / "classes"
STAMP = BUILD / "classes.sha256"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        fail("SPARK_HOME must point at a Spark distribution")
    return Path(home) / "jars"


def sources_digest():
    h = hashlib.sha256()
    files = sorted((ROOT / "src" / "main").rglob("*")) + sorted((ROOT / "perfbench").rglob("*"))
    for f in files:
        if f.is_file() and f.suffix in (".scala", ".sh"):
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no src/main/scala: run from a checkout of the repository")
    digest = sources_digest()
    if CLASSES.is_dir() and STAMP.is_file() and STAMP.read_text() == digest:
        return
    STAMP.unlink(missing_ok=True)
    print("perfbench: building", file=sys.stderr)
    r = subprocess.run(["bash", "perfbench/build.sh", str(CLASSES)], cwd=ROOT,
                       stdout=sys.stderr, timeout=850)
    if r.returncode != 0:
        fail(f"build failed ({r.returncode})")
    STAMP.write_text(digest)


def java_cmd(jars, main, args, work):
    java = os.environ.get("JAVA_HOME")
    java = str(Path(java) / "bin" / "java") if java else "java"
    cp = [str(CLASSES)]
    resources = ROOT / "src" / "main" / "resources"
    if resources.is_dir():
        cp.append(str(resources))
    cp.append(str(jars / "*"))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, *opens, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            f"-Dlog4j.configurationFile={ROOT / 'perfbench' / 'log4j2.properties'}",
            "-cp", os.pathsep.join(cp), main, *args]


def run_java(cmd, work):
    """Runs the JVM in its own process group; returns (code, stdout lines)."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep its temporary
    # files inside the work dir too
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail("stopped")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"timed out after {RUN_TIMEOUT_S} s")
    return proc.returncode, out.splitlines()


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    jars = spark_jars()
    build()
    name = "selftest" if a.self_test else f"{a.workload}-s{a.seed}-t{a.trace}"
    work = ROOT / ".bench_build" / "work" / f"{name}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        if a.self_test:
            cmd = java_cmd(jars, "perfbench.SelfTest", ["--work", str(work)], work)
        else:
            trace_out = ROOT / ".bench_build" / "trace" / f"{name}.json"
            cmd = java_cmd(jars, "perfbench.Main", [
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work),
                "--trace-out", str(trace_out)], work)
        code, lines = run_java(cmd, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if a.self_test:
        print("\n".join(lines))
        sys.exit(code)
    if code != 0:
        print("\n".join(lines), file=sys.stderr)
        fail(f"exited with {code}")
    if not lines or not lines[-1].startswith("{"):
        fail("no result line")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
