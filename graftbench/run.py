#!/usr/bin/env python3
"""graft's benchmark launcher.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft's
library sources together with the benchmark (graftbench/build.sbt) and
records the classpath; later runs reuse the build while no source file
has changed. Each run starts one JVM, which prints every metric by name
and ends its output with one JSON line. Workloads: batch, ingest (see
graftbench/README.md).
"""
import argparse
import hashlib
import os
import pathlib
import shutil
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
TARGET = HERE / "target"
RUN_TIMEOUT_S = 170
JVM_OPTS = ["-Xmx3g", "-XX:+UseG1GC"] + [
    arg for pkg in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
        "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
        "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for arg in ("--add-opens", f"java.base/{pkg}=ALL-UNNAMED")]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build_env():
    env = dict(os.environ)
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if submit is None:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        env["SPARK_HOME"] = str(pathlib.Path(submit).resolve().parent.parent)
    env.setdefault("COURSIER_MODE", "offline")
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def classpath():
    """Build if any source changed since the last build; return the classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"graft's library sources are missing under {ROOT / 'src' / 'main' / 'scala'}")
    digest = source_digest()
    cp_file, stamp = TARGET / "classpath.txt", TARGET / "source.sha256"
    if cp_file.is_file() and stamp.is_file() and stamp.read_text() == digest:
        return cp_file.read_text()
    stamp.unlink(missing_ok=True)
    done = subprocess.run(["sbt", "-batch", "writeClasspath"], cwd=HERE, env=build_env(),
                          stdout=sys.stderr, stderr=sys.stderr)
    if done.returncode != 0 or not cp_file.is_file():
        fail("build failed")
    stamp.write_text(digest)
    return cp_file.read_text()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["batch", "ingest"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()
    if args.seconds < 1:
        fail("--seconds must be at least 1")

    cp = classpath()
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    java = shutil.which("java", path=os.path.join(os.environ["JAVA_HOME"], "bin")
                        if "JAVA_HOME" in os.environ else None) or "java"
    cmd = [java, *JVM_OPTS, f"-Djava.io.tmpdir={WORK / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", cp, "graft.perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", args.trace,
           "--data", str(HERE / "data" / "sf0.01"), "--work", str(WORK),
           "--expected", str(HERE / "expected.tsv")]
    proc = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    sys.exit(code)


if __name__ == "__main__":
    main()
