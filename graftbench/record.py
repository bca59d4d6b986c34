#!/usr/bin/env python3
"""Record the benchmark's expected answers and cross-check them once
against DuckDB.

    python3 graftbench/record.py

Dumps every query the workloads use (plus the batch answers of the
ingest streams) twice with graft.tools.VerifySubset, runs
scripts/check.py over the first dump (every query that has
SparkEntry.oracleSql must match DuckDB), and only then fingerprints the
dumped parquet into graftbench/expected.tsv. Both dumps must give the
same fingerprint. So each stored fingerprint is that of a result DuckDB
checked.
"""
import os
import subprocess
import sys

import run


def java(cp, *args, env=None):
    subprocess.run([
        "java", *run.JVM_OPTS, f"-Djava.io.tmpdir={run.WORK / 'tmp'}",
        f"-Dlog4j2.configurationFile={run.HERE / 'log4j2.properties'}",
        "-cp", cp, *args], cwd=run.ROOT, env=env, check=True)


def queries(cp):
    """Workloads.allQueries, as the benchmark prints them."""
    out = subprocess.run(["java", "-cp", cp, "graft.perfbench.Main", "--queries"],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    return out.split()


def main():
    cp = run.classpath()
    run.shutil.rmtree(run.WORK, ignore_errors=True)
    (run.WORK / "tmp").mkdir(parents=True)
    data = run.HERE / "data" / "sf0.01"
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()))
    names = queries(cp)
    dumps = [run.WORK / "dump_a", run.WORK / "dump_b"]
    for dump in dumps:
        java(cp, "graft.tools.VerifySubset", str(data), str(dump), *names, env=env)
    check = subprocess.run([sys.executable, str(run.ROOT / "scripts" / "check.py"),
                            str(data), str(dumps[0])], cwd=run.ROOT)
    if check.returncode != 0:
        sys.exit("the DuckDB check failed; expected.tsv is unchanged")
    java(cp, "graft.perfbench.Main", *[a for d in dumps for a in ("--record", str(d))],
         "--data", str(data), "--work", str(run.WORK), "--expected", str(run.HERE / "expected.tsv"))


if __name__ == "__main__":
    main()
