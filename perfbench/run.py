#!/usr/bin/env python3
"""xetlspark benchmark: runs one workload and prints one JSON result line.

Usage, from the root of a checkout:
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

The first call in a checkout builds the program and the benchmark from source
with sbt (offline); later calls reuse the build while no source has changed.
The run itself is one JVM (perfbench.Main) at local[nproc]. Everything it
writes goes under .bench_work/ and .bench_build/ in the checkout. Workloads,
metrics and the reasons for them are described in BENCHMARK.json.

Environment: SPARK_GRAFT_SF_DIR names the sf0.1 tables; by default they are
read from the sf0.1 directory TESTDATA.md names.
"""
import argparse
import hashlib
import json
import os
import pathlib
import re
import subprocess
import sys
import time

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
WORKLOADS = ("corpus_fixed_cost", "corpus_heavy_tail", "yaml_etl_job")
RUN_TIMEOUT_S = 170
# A fixed heap and young generation: with G1 sizing them adaptively the
# JVM's peak RSS swung by 30 % between runs of the same work.
JVM_MEMORY = ["-Xms3g", "-Xmx3g", "-Xmn768m"]

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sf_dir():
    """The read-only sf0.1 tables: SPARK_GRAFT_SF_DIR, else the directory of
    the 0.1 row of TESTDATA.md's table."""
    if os.environ.get("SPARK_GRAFT_SF_DIR"):
        return os.environ["SPARK_GRAFT_SF_DIR"]
    doc = ROOT / "TESTDATA.md"
    m = re.search(r"^\|\s*0\.1\s*\|\s*`([^`]+)`", doc.read_text(), re.M) if doc.is_file() else None
    if not m:
        fail("set SPARK_GRAFT_SF_DIR: TESTDATA.md names no sf0.1 directory")
    return m.group(1).rstrip("/")


def source_files():
    """Every file the build reads: the program's build and sources, and the
    benchmark's."""
    roots = [ROOT / "src" / "main", BENCH / "src" / "main", ROOT / "project", BENCH / "project"]
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = [d for d in dirnames if d not in ("target", "project")]
            files += [pathlib.Path(dirpath) / n for n in names]
    return sorted(f for f in files if f.is_file())


def build():
    """Compiles with sbt when any source changed; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    cp_file = BUILD / "classpath.txt"
    stamp_file = BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    (BUILD / "tmp").mkdir(exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = pathlib.Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    (BUILD / "build.log").write_text(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode}); log in {BUILD / 'build.log'}")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be positive")
    # The benchmark builds the program from the checkout it runs in.
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"{ROOT} holds no xetlspark sources (build.sbt, src/main/scala/graft)")
    sf = sf_dir()
    if not (pathlib.Path(sf) / "lineitem.parquet").is_file():
        fail(f"no sf0.1 tables under {sf}")

    cp = build()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + JVM_MEMORY + [f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--sf", sf, "--corpus", str(BENCH / "corpus"),
              "--work", str(WORK)])
    try:
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    out = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not out:
        fail(f"{a.workload} exited with {proc.returncode}")
    result = json.loads(out[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {out[-1]}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
