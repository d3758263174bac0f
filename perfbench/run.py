#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload chunk-store --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run builds the program
and the benchmark from source with sbt (perfbench/build.sbt depends on
the root build); later runs reuse the build while the sources are
unchanged. Outputs go under .bench_build/perfbench. The last line of
stdout is the run's JSON result; see perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = ROOT / "perfbench"
OUT = ROOT / ".bench_build" / "perfbench"
WORKLOADS = ("chunk-store", "doc-neardup", "vector-ann")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "-Xmx3g"


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project"):
        files += sorted(d.glob("*.sbt")) + sorted(d.glob("*.properties"))
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0")
        h.update(f.read_bytes())
    return h.hexdigest()


def java_cmd(classpath, jvm_options, *extra):
    java = str(pathlib.Path(os.environ["JAVA_HOME"]) / "bin" / "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = OUT / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # JVM warnings go to stderr: stdout carries the result
    return [java, *jvm_options, HEAP, f"-Djava.io.tmpdir={tmp}",
            "-Xlog:disable", "-Xlog:all=warning:stderr", *extra,
            "-cp", classpath, "graft.perfbench.Main"]


def run_jvm(cmd, timeout, stdout):
    """Run the JVM in its own process group, so a timeout or a signal
    stops it and everything it started."""
    proc = subprocess.Popen(cmd, stdout=stdout, text=True, start_new_session=True)

    def stop(*_):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die("interrupted")
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"run exceeded {timeout} s")
    return proc.returncode, out


def build():
    """Build once per source state; returns (classpath, JVM options)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        die("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    OUT.mkdir(parents=True, exist_ok=True)
    stamp = OUT / "launch.json"
    fp = fingerprint()
    if stamp.is_file():
        launch = json.loads(stamp.read_text())
        if launch.get("fingerprint") == fp:
            return launch["classpath"], launch["jvm_options"]
    print("perfbench: building the program and the benchmark with sbt", file=sys.stderr)
    try:
        proc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "benchLaunch"],
                              cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                              timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        die("sbt build timed out")
    if proc.returncode != 0:
        die(f"sbt build failed with exit code {proc.returncode}")
    lines = (BENCH / "target" / "launch.txt").read_text().splitlines()
    classpath, jvm_options = lines[0], lines[1:]
    # A class-data-sharing archive of the classes a small run of every
    # workload loads: each later JVM starts without loading and
    # verifying them again. Without it the runs are slower, not wrong.
    jsa = OUT / "classes.jsa"
    jsa.unlink(missing_ok=True)
    print("perfbench: recording the class-data-sharing archive", file=sys.stderr)
    code, _ = run_jvm(java_cmd(classpath, jvm_options, f"-XX:ArchiveClassesAtExit={jsa}")
                      + ["--train", "--out", str(OUT)], BUILD_TIMEOUT_S, sys.stderr)
    if code != 0:
        die(f"training run failed with exit code {code}")
    if jsa.is_file():
        jvm_options = jvm_options + [f"-XX:SharedArchiveFile={jsa}"]
    launch = {"fingerprint": fp, "classpath": classpath, "jvm_options": jvm_options}
    stamp.write_text(json.dumps(launch))
    return classpath, jvm_options


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    ap.add_argument("--selftest", action="store_true",
                    help="show that every correctness gate fires on a corrupted output")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        die("--workload is required")

    classpath, jvm_options = build()
    args = ["--selftest"] if a.selftest else [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace]
    code, out = run_jvm(java_cmd(classpath, jvm_options) + args + ["--out", str(OUT)],
                        RUN_TIMEOUT_S, subprocess.PIPE)
    sys.stdout.write(out)
    sys.stdout.flush()
    sys.exit(code)


if __name__ == "__main__":
    main()
