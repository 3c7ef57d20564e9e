#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark runner from source with the benchmark's own sbt build (outputs
under .bench_build/); later runs reuse the build while the sources are
unchanged. The engine JVM's output goes to stderr; stdout carries only the
result line. `--trace 1` reports the per-layer metrics and writes the span
tree and per-op rows to .bench_build/trace/<workload>-<seed>.json.
`--ops all` runs every op of the workload instead of its timed set;
`--mode record` prints candidate expected digests for every engine key.
See perfbench/README.md.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("query_mix", "llm_corpus", "store_maintenance")
END_TO_END = ("setup_s", "pass_s", "op_p50_s", "op_tail_s", "heap_mb", "write_mb")
# the shipped sf0.1 fixture; GRAFT_FIXTURE_DIR overrides it
FIXTURE = os.environ.get("GRAFT_FIXTURE_DIR",
                         os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
HEAP = "4g"
RUN_TIMEOUT_S = 170
LONG_TIMEOUT_S = 3600
BUILD_TIMEOUT_S = 850


def die(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    files = [os.path.join(HERE, f) for f in ("build.sbt", "jvm.opts", "project/build.properties")]
    for top in (ENGINE, os.path.join(HERE, "src", "main")):
        files += sorted(glob.glob(os.path.join(top, "**", "*.scala"), recursive=True))
    return files


def build():
    """Compile engine + runner once per source state; return the classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "classpath-" + digest.hexdigest()[:16])
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.join(os.path.expanduser("~"), ".sbt", "repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("[perfbench] building engine and runner (sbt)", file=sys.stderr)
    code, stdout = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                             BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, text=True)
    lines = [l for l in (stdout or "").splitlines() if l.strip()]
    if code != 0 or not lines or ":" not in lines[-1]:
        sys.stderr.write((stdout or "")[-4000:])
        die("build failed")
    os.makedirs(BUILD, exist_ok=True)
    for old in glob.glob(os.path.join(BUILD, "classpath-*")):
        os.remove(old)
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    (sbt's launcher forks a JVM) and wait for it. Returns (code, stdout);
    code is None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, stderr=sys.stderr, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, None


def check_result(res, trace):
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        die(f"malformed result keys: {sorted(res)}")
    if not trace and set(res["metrics"]) != set(END_TO_END):
        die(f"missing end-to-end metrics: {sorted(set(END_TO_END) - set(res['metrics']))}")
    for name, m in res["metrics"].items():
        if not isinstance(m.get("value"), (int, float)):
            die(f"metric {name} has no value")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--ops", choices=("timed", "all"), default="timed")
    ap.add_argument("--mode", choices=("run", "record"), default="run")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ENGINE, "graft", "SparkEntry.scala")):
        die(f"engine sources not found under {ENGINE}; run from a full checkout")
    if not os.path.isfile(os.path.join(FIXTURE, "lineitem.parquet")):
        die(f"fixture not found at {FIXTURE} (set GRAFT_FIXTURE_DIR)")
    if not shutil.which("java"):
        die("java not found on PATH")

    classpath = build()
    os.makedirs(BUILD, exist_ok=True)
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    artifact = os.path.join(BUILD, "trace", f"{a.workload}-{a.seed}.json")
    with open(os.path.join(HERE, "jvm.opts")) as fh:
        jvm_opts = [l.strip() for l in fh if l.strip()]
    cmd = (["java"] + jvm_opts +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", classpath, "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixture", FIXTURE, "--bench", HERE, "--work", work,
            "--result", result, "--artifact", artifact, "--cpus", str(len(os.sched_getaffinity(0))),
            "--ops", a.ops, "--mode", a.mode, "--launch-ms", str(int(time.time() * 1000))])
    timeout = RUN_TIMEOUT_S if (a.ops, a.mode) == ("timed", "run") else LONG_TIMEOUT_S
    code, _ = run_group(cmd, timeout, cwd=work, stdout=sys.stderr)
    if code is None:
        shutil.rmtree(work, ignore_errors=True)
        die(f"engine run exceeded {timeout} s")
    try:
        with open(result) as fh:
            text = fh.read()
    except OSError:
        text = ""
    shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not text:
        die(f"engine run failed (exit {code})")
    if a.mode == "record":
        sys.stdout.write(text)
        return
    res = json.loads(text)
    check_result(res, a.trace == 1)
    if a.trace:
        print(f"[perfbench] trace artifact: {os.path.relpath(artifact, ROOT)}", file=sys.stderr)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
