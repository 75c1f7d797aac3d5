#!/usr/bin/env python3
"""Streaming benchmark of the newsletter pipeline, the Slack-event leg and
standing-index upkeep.

    python3 streambench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark with sbt (streambench/build.sbt builds the repository through its
own build file); later runs reuse that build while the sources are
unchanged and start the benchmark JVM directly. The last line of stdout is
the run's JSON result; everything else goes to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
T0 = time.time()

# Everything the build reads: the program's sources and build, and ours.
SOURCES = [
    ("build.sbt", False), ("project/build.properties", False), ("src/main", True),
    ("streambench/build.sbt", False), ("streambench/project/build.properties", False),
    ("streambench/src/main", True),
]


def log(msg):
    print(f"[streambench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for rel, is_dir in SOURCES:
        path = os.path.join(ROOT, rel)
        files = []
        if is_dir:
            for d, _, names in os.walk(path):
                files += [os.path.join(d, n) for n in names]
        else:
            files = [path]
        for f in sorted(files):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout):
    """Run cmd in its own process group; kill the whole group on timeout
    or interruption, and always wait for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True)

    def kill(*_):
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()

    old = signal.signal(signal.SIGTERM, lambda *a: (kill(), sys.exit(143)))
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        kill()
        return None, None
    except BaseException:
        kill()
        raise
    finally:
        signal.signal(signal.SIGTERM, old)


def build():
    stamp = source_stamp()
    stamp_file = os.path.join(TARGET, "launch-stamp.txt")
    launch = [os.path.join(TARGET, n) for n in ("launch-classpath.txt", "launch-jvmopts.txt")]
    if all(map(os.path.exists, launch)) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return launch
    log("building (sbt compile) ...")
    t0 = time.time()
    rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeLaunch"],
                      HERE, BUILD_TIMEOUT_S, sys.stderr)
    if rc != 0:
        log(f"build failed (exit {rc})")
        sys.exit(3)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return launch


def valid(result, mode_metrics):
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        return "result keys"
    if not isinstance(result["attempted"], int) or result["attempted"] < 1:
        return "attempted"
    if not isinstance(result["failed"], int) or result["failed"] < 0:
        return "failed"
    if set(result["metrics"]) != set(mode_metrics):
        missing = set(mode_metrics) - set(result["metrics"])
        extra = set(result["metrics"]) - set(mode_metrics)
        return f"metrics (missing {sorted(missing)}, unexpected {sorted(extra)})"
    return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for rel, _ in SOURCES:
        if not os.path.exists(os.path.join(ROOT, rel)):
            log(f"missing {rel}: run from a checkout of the repository root")
            sys.exit(2)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        log(f"unknown workload {a.workload}; choose one of {names}")
        sys.exit(2)

    cp_file, opts_file = build()
    with open(cp_file) as fh:
        cp = os.pathsep.join(line.strip() for line in fh if line.strip())
    with open(opts_file) as fh:
        opts = [line.strip() for line in fh if line.strip()]

    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"] + opts + [
        "-cp", cp, "streambench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    try:
        rc, out = run_group(cmd, ROOT, RUN_TIMEOUT_S, subprocess.PIPE)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc is None:
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    lines = out.decode().strip().splitlines()
    if rc != 0 or not lines:
        log(f"benchmark JVM exited {rc}")
        sys.exit(5)
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = json.loads(lines[-1])
    problem = valid(result, [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]])
    if problem:
        log(f"malformed result ({problem}): {lines[-1]}")
        sys.exit(6)
    log(f"{a.workload} seed {a.seed}: {time.time() - T0:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
