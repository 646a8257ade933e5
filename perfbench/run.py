#!/usr/bin/env python3
"""Seeded ingest / search / dedup benchmark for the graft engine.

Usage (from the repository root):
    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Builds the engine from ../src/main/scala together with the benchmark's
own sources (one scalac run against the Spark jars, cached by source
hash under .bench_build/), then runs one workload in one JVM on a
local[nproc] session. The JVM prints a human-readable report and, as
its last line, one JSON object with the run's metrics; see README.md.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build" / "perfbench"
WORK = ROOT / ".bench_work"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when a session is created outside
# spark-submit; the list matches the project's build.sbt.
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jars the engine compiles and runs against: $SPARK_HOME/jars,
    else the unmanagedBase that build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if home and (Path(home) / "jars").is_dir():
        return Path(home) / "jars"
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.is_file() else None
    if m and Path(m.group(1)).is_dir():
        return Path(m.group(1))
    fail("no Spark jars: set SPARK_HOME")


def sources():
    files = sorted(ENGINE_SRC.rglob("*.scala")) if ENGINE_SRC.is_dir() else []
    if not files:
        fail(f"engine sources not found under {ENGINE_SRC}")
    return files + sorted((HERE / "src").rglob("*.scala"))


def build(jars):
    """Compile engine + benchmark once per source hash; returns the classes dir."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    out = BUILD / h.hexdigest()[:16]
    if (out / "OK").is_file():
        return out
    tmp = BUILD / f"tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = BUILD / f"sources-{os.getpid()}.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cp = f"{jars}/*"
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=800)
    argfile.unlink()
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed")
    (tmp / "OK").write_text(f"{time.time() - t0:.1f}\n")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "search", "dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes = build(jars)
    cpus = str(os.cpu_count() or 1)
    run_dir = WORK / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    (WORK / "logs").mkdir(parents=True, exist_ok=True)
    log_path = WORK / "logs" / f"{a.workload}-seed{a.seed}-trace{a.trace}.log"
    cmd = (["java", "-XX:-UsePerfData"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-cp", f"{classes}:{jars}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--cpus", cpus, "--work", str(run_dir),
            "--spans", str(WORK / "trace" / f"{a.workload}-seed{a.seed}.spans.jsonl")])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s (log: {log_path})")
    shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(out if p.returncode == 0 else "")
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"run failed with exit code {p.returncode} (log: {log_path})")
    sys.stdout.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
