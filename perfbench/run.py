#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload weather|corpus|gates --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the engine and the
harness with sbt (offline, from the local dependency cache) and records the
classpath and the engine's JVM options in perfbench/target/launch.txt; later
runs reuse them until a source or build file changes. Each run works in a
fresh directory under perfbench/target/runs/, which is deleted afterwards.
Traced runs (--trace 1) leave spans.jsonl, jobs.jsonl and rollup.jsonl in
perfbench/target/trace/<workload>-<seed>/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.stamp")
WORKLOADS = ("weather", "corpus", "gates")
# heap for the benchmark JVM, fixed so peak RSS compares across machines
DRIVER_MEM = "4g"
# a run that has not finished by then is killed and reported as failed
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_fingerprint():
    """Hash of the path, size and mtime of every file the build reads."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(base):
            files.extend(os.path.join(d, n) for n in names)
    for f in sorted(files):
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    fp = sources_fingerprint()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == fp:
                return
    log("building engine and harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=DRIVER_MEM)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    cmd = ["sbt", "--batch"] + opts + ["perfbench/launchFile"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"[perfbench] build failed (exit {p.returncode})")
    with open(STAMP, "w") as f:
        f.write(fp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] engine sources not found: {need} is missing under {ROOT}")
    build()
    with open(LAUNCH) as f:
        lines = [l for l in f.read().splitlines() if l]
    classpath, jvm_opts = lines[0], lines[1:]

    work = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    trace_out = os.path.join(TARGET, "trace", f"{a.workload}-{a.seed}")
    shutil.rmtree(work, ignore_errors=True)
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    cores = str(os.cpu_count() or 1)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local, SPARK_GRAFT_CPUS=cores)
    cmd = (["java", "-cp", classpath] + jvm_opts +
           [f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--work", os.path.join(work, "data"),
            "--trace-out", trace_out, "--expected", os.path.join(HERE, "expected")])
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(f"[perfbench] {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write("\n".join(l for l in lines if not l.startswith("{")) + "\n")
        raise SystemExit(f"[perfbench] {a.workload} exited with {proc.returncode} and no result")
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
