#!/usr/bin/env python3
"""User-path benchmark for graft: one workload run in a fresh JVM.

    python3 perfbench/run.py --workload search_hnsw --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the engine and harness from source
(perfbench/build.py, cached by source hash), wipes the benchmark-owned
temp root perfbench/.run, starts one JVM with java.io.tmpdir pointed
there, and relays the JVM's result line (a JSON object with `correct`,
`attempted`, `failed` and `metrics`) as the last line of stdout.
Artifacts (run context, every metric, spans of a traced run) land in
perfbench/.out. Exits non-zero when the build fails, an output check
fails or the run dies. See perfbench/NOTES.md.
"""
import argparse
import fcntl
import os
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
import build  # noqa: E402

WORKLOADS = ["search_hnsw", "search_ivf", "serve_stream", "ingest_live"]
RUN_DIR = os.path.join(BENCH_DIR, ".run")
OUT_DIR = os.path.join(BENCH_DIR, ".out")
JVM_TIMEOUT_S = 170


def git_head():
    """HEAD of the checkout, or "unknown" when it is not a git work tree."""
    def git(*args):
        out = subprocess.run(["git", "-C", build.ROOT] + list(args), stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL, timeout=10)
        return out.stdout.decode().strip() if out.returncode == 0 else ""
    try:
        top = git("rev-parse", "--show-toplevel")
        if top and os.path.realpath(top) == os.path.realpath(build.ROOT):
            return git("rev-parse", "HEAD") or "unknown"
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    # one run at a time per checkout: runs share the temp root and the CPUs
    lock = open(os.path.join(BENCH_DIR, ".lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        cp, archive, digest = build.build()
    except build.BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        return 2

    if os.path.isdir(RUN_DIR):
        shutil.rmtree(RUN_DIR)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT_DIR, exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_CONF_DIR", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    cmd = build.jvm_command(cp, tmp, archive) + [
        "graft.perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--out", OUT_DIR, "--git-head", git_head(),
        "--source-hash", digest]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, cwd=RUN_DIR,
                            start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(RUN_DIR, ignore_errors=True)
        sys.exit(128 + signum)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        sys.stderr.write("run exceeded %d s and was killed\n" % JVM_TIMEOUT_S)
        return 4
    finally:
        shutil.rmtree(RUN_DIR, ignore_errors=True)
    lines = [l for l in stdout.decode("utf-8", "replace").splitlines() if l.strip()]
    if not lines or not lines[-1].startswith("{"):
        sys.stderr.write("\n".join(lines[-20:]) + "\nrun failed with exit code %d\n"
                         % proc.returncode)
        return proc.returncode or 5
    # the JVM exits non-zero, after printing, when an output check failed
    print(lines[-1])
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
