#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the library and the
benchmark from source with sbt (into .bench_build/); later runs reuse the
build while the sources are unchanged. Each run gets a fresh JVM and a
fresh directory under .bench_runs/. Stdout ends with the full report as
one JSON line, then the summary line:
{"correct", "attempted", "failed", "metrics"} — end-to-end metrics with
--trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import report  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
RUNS = ROOT / ".bench_runs"
CLASSES = BUILD / "target" / "scala-2.13" / "classes"
DEADLINE_S = 170
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home():
    """The Spark installation whose jars the build and the run use."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not Path(home, "jars").is_dir():
        fail("no Spark installation found; set SPARK_HOME")
    return home


def source_digest():
    """Digest over every file the build reads: library and benchmark."""
    h = hashlib.sha256()
    trees = [ROOT / "src" / "main", HERE / "src" / "main"]
    files = [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for t in trees:
        files += sorted(p for p in t.rglob("*") if p.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(deadline):
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("library sources (src/main/scala/graft) not found; run from a checkout")
    digest = source_digest()
    stamp = BUILD / "stamp"
    if stamp.exists() and stamp.read_text() == digest and CLASSES.is_dir():
        return False
    BUILD.mkdir(exist_ok=True)
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + str(Path.home() / ".sbt" / "repositories"),
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"])
    with open(BUILD / "build.log", "w") as log:
        try:
            rc = subprocess.run(
                [sbt, "--batch", "-Dsbt.log.noformat=true", "compile"],
                cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=max(60, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out; see .bench_build/build.log")
    if rc != 0:
        fail("build failed; see .bench_build/build.log")
    stamp.write_text(digest)
    return True


def run_jvm(args, run_dir, deadline):
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{CLASSES}:{spark_home()}/jars/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", str(run_dir)]
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded its time limit; see {run_dir / 'jvm.log'}")
    if rc != 0 or not (run_dir / "raw.json").exists():
        tail = (run_dir / "jvm.log").read_text(errors="replace").splitlines()[-30:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"benchmark JVM exited with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=report.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    start = time.time()
    # a run that had to build gets its own time budget after the build
    deadline = (time.time() if build(start + 880) else start) + DEADLINE_S

    run_dir = RUNS / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        run_jvm(args, run_dir, deadline)
        raw = json.loads((run_dir / "raw.json").read_text())
        spans = []
        if args.trace and (run_dir / "spans.jsonl").exists():
            spans = [json.loads(l) for l in (run_dir / "spans.jsonl").read_text().splitlines() if l]
        full = report.build_report(raw, spans)
        (run_dir / "report.json").write_text(json.dumps(full, indent=1))
    finally:
        # keep the small artefacts, drop generated data
        for p in run_dir.glob("*"):
            if p.is_dir():
                shutil.rmtree(p, ignore_errors=True)
    print(json.dumps(full))
    print(json.dumps(report.summary(full, traced=bool(args.trace))))


if __name__ == "__main__":
    main()
