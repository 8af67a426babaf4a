#!/usr/bin/env python3
"""Run one workload of the migration benchmark.

    python3 perfbench/run.py --workload migrate --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first call builds the engine and the
benchmark from source (sbt, through perfbench/build.sbt) into
.bench_build/; later calls reuse that build while the sources are
unchanged. The last line of stdout is the JSON result; the line before it
holds the full detail (every metric, notes and failed checks).

--corrupt 1 damages the stage's output before its check (the check must
then fail). A traced run (--trace 1) leaves its span log in
.bench_build/trace-<workload>-<seed>.jsonl.
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
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(BUILD, "launch.txt")
STAMP = os.path.join(BUILD, "launch.stamp")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every build input's path, size and mtime."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", os.path.join("perfbench", "build.sbt"),
                os.path.join("perfbench", "project"), os.path.join("perfbench", "src")):
        path = os.path.join(ROOT, top)
        walk = [(path, [], [""])] if os.path.isfile(path) else os.walk(path)
        for d, dirs, files in walk:
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f) if f else d
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    return env


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def ensure_build():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no engine sources here (build.sbt, src/main/scala); run from a checkout root")
    stamp = source_stamp()
    if os.path.exists(LAUNCH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    for f in (LAUNCH, STAMP):
        if os.path.exists(f):
            os.remove(f)
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt not found on PATH")
    try:
        code, _ = run_group([sbt, "-batch", "launchSpec"], HERE, BUILD_TIMEOUT_S,
                            env=sbt_env(), stdout=sys.stderr)
    except subprocess.TimeoutExpired:
        fail(f"build did not finish within {BUILD_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(LAUNCH):
        fail(f"build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["migrate", "live_tail", "corpus_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--corrupt", choices=["0", "1"], default="0")
    a = ap.parse_args()

    ensure_build()
    with open(LAUNCH) as f:
        lines = [x for x in f.read().splitlines() if x]
    classpath, jvm_opts = lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")]

    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    tmp = os.path.join(BUILD, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # C1 only: a run lives under a minute, and C2 compiling on the same few
    # cores slows every run's first passes more than it speeds later ones
    cmd = [java, f"-Xmx{HEAP}", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData", *jvm_opts,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(BUILD, 'warehouse')}",
           "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--corrupt", a.corrupt, "--work", work]
    started = time.time()
    try:
        code, out = run_group(cmd, ROOT, RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail(f"run did not finish within {RUN_TIMEOUT_S} s")
    finally:
        trace = os.path.join(work, "trace.jsonl")
        if os.path.exists(trace):
            shutil.copy(trace, os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.jsonl"))
        shutil.rmtree(work, ignore_errors=True)
    lines = [x for x in out.splitlines() if x.startswith("{")]
    result = next((x for x in reversed(lines) if x.startswith('{"correct"')), None)
    detail = next((x for x in reversed(lines) if x.startswith('{"detail"')), None)
    if code != 0 or result is None:
        fail(f"run failed (exit {code}) after {time.time() - started:.1f} s")
    json.loads(result)
    if detail:
        print(detail)
    print(result)


if __name__ == "__main__":
    main()
