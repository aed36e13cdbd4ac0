#!/usr/bin/env python3
"""Repository benchmark: builds the program and the benchmark's runner from
source, runs one workload in one JVM and prints the result as the last
line of standard output.

    python3 perfbench/run.py --workload gridmet_conus --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Build output goes to .bench_build/,
staged inputs and Spark scratch space to .bench_work/ (removed after the
run), and a capture of every run (result, environment, spans) to
.bench_out/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
CLASSPATH = BUILD / "target" / "classpath.txt"
# Class-data-sharing archive of the classes a run loads: class loading
# dominates a cold JVM's start on small boxes.
CDS_ARCHIVE = BUILD / "classes.jsa"
RUN_LIMIT_S = 170  # a run must end within 180 s, build excluded

# Spark 4 on JDK 17 outside spark-submit needs these (the program's own
# build.sbt passes the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    for d in (ROOT / "src" / "main", BENCH / "src", BENCH / "build.sbt"):
        if d.is_file():
            yield d
        elif d.is_dir():
            yield from (p for p in d.rglob("*") if p.is_file())


def build():
    """Compiles with sbt and records the class-data-sharing archive, unless
    the archive is newer than every source."""
    src = list(sources())
    if not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit("perfbench: no program sources (src/main/scala) to build")
    if CDS_ARCHIVE.exists() and all(p.stat().st_mtime <= CDS_ARCHIVE.stat().st_mtime for p in src):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    (BUILD / "tmp").mkdir(parents=True, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={BUILD / 'tmp'}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt writeClasspath)")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not CLASSPATH.exists():
        raise SystemExit(f"perfbench: build failed (exit {r.returncode})")
    # one representative operation, archiving every class it loaded
    CDS_ARCHIVE.unlink(missing_ok=True)
    log("recording the class-data-sharing archive")
    work = ROOT / ".bench_work" / "cds-training"
    try:
        java("corrupt-check", ["--workload", "gridmet_conus", "--seed", "0"], work, 600,
             [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def java(mode, args, work, timeout, jvm_opts=None):
    """Runs perfbench.Main in a fresh JVM; returns its PERFBENCH_* lines by tag."""
    work.mkdir(parents=True, exist_ok=True)
    (work / "tmp").mkdir(exist_ok=True)
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if CDS_ARCHIVE.exists() else []
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
           "-Xlog:cds=off", "-Xlog:cds+dynamic=off"] + jvm_opts
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", CLASSPATH.read_text().strip(), "perfbench.Main", mode] + args
    if mode != "list-metrics":
        cmd += ["--work", str(work)]
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"perfbench: {mode} stopped")

    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = proc.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        stop()
    finally:
        for s, h in previous.items():
            signal.signal(s, h)
    lines = {}
    for line in out.splitlines():
        tag, _, rest = line.partition(" ")
        if tag.startswith("PERFBENCH_"):
            lines[tag] = rest
        else:
            print(line, file=sys.stderr)
    if proc.returncode != 0 or "PERFBENCH_RESULT" not in lines:
        raise SystemExit(f"perfbench: {mode} failed (exit {proc.returncode})")
    return lines


def declared():
    """Metric name -> unit for each trace mode, from BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def check_names(metrics, want):
    got = {n: m["unit"] for n, m in metrics.items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        units = sorted(n for n in set(got) & set(want) if got[n] != want[n])
        raise SystemExit(f"perfbench: metrics differ from BENCHMARK.json: "
                         f"missing {missing}, undeclared {extra}, unit mismatch {units}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    e2e, layer = declared()
    build()
    started = time.monotonic()
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    try:
        lines = java("run", ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace)],
                        work, RUN_LIMIT_S - (time.monotonic() - started))
        result = json.loads(lines["PERFBENCH_RESULT"])
        out = ROOT / ".bench_out"
        out.mkdir(exist_ok=True)
        capture = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "result": result,
                   "env": json.loads(lines["PERFBENCH_ENV"]),
                   "counts": json.loads(lines["PERFBENCH_COUNTS"])}
        spans = work / "spans.json"
        if spans.exists():
            capture["spans"] = json.loads(spans.read_text())
        name = f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
        (out / name).write_text(json.dumps(capture, indent=1) + "\n")
        check_names(result["metrics"], layer if a.trace else e2e)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
