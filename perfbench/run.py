#!/usr/bin/env python3
"""KG-build benchmark of the graft Spark pipeline.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload kg-wide --seed 1 --seconds 5 --trace 0

Builds the benchmark with the program's sources (sbt, offline) when they
changed since the last build, runs one workload in a fresh JVM on
local[<all cores>], and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. The line before it
records the environment (cores, memory, JDK, Spark, plan settings,
source fingerprint, git commit when there is one, seed).

Extra modes:
    --record 1          merge this run's output checks into expected.json
    --selftest 1        make one operation throw, then one output check
                        fail, and assert each is reported as failed
See NOTES.md for the workloads and metrics.
"""
import argparse
import fcntl
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
WORKLOADS = ("kg-wide", "annotate-warm")
EXPECTED = os.path.join(HERE, "expected.json")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha1()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(fp):
    """Compile with sbt unless target/ already holds a build of these sources."""
    target = os.path.join(HERE, "target")
    os.makedirs(target, exist_ok=True)
    stamp, cp = os.path.join(target, "fingerprint"), os.path.join(target, "classpath.txt")
    with open(os.path.join(target, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(cp) and os.path.exists(stamp) and open(stamp).read() == fp:
            return open(cp).read().strip()
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
        if "-Dsbt.offline=true" not in env["SBT_OPTS"]:
            env["SBT_OPTS"] += " -Dsbt.offline=true"
        with open(os.path.join(target, "build.log"), "w") as log:
            code = run_child(["sbt", "-batch", "--no-server", "-J-XX:-UsePerfData", "writeClasspath"],
                             HERE, env, log, BUILD_TIMEOUT_S)
        if code != 0 or not os.path.exists(cp):
            sys.stderr.write(tail(os.path.join(target, "build.log")))
            fail(f"build failed (exit {code}); see perfbench/target/build.log")
        with open(stamp, "w") as fh:
            fh.write(fp)
        return open(cp).read().strip()


def run_child(cmd, cwd, env, log, timeout):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)  # stray children of a finished JVM
        except ProcessLookupError:
            pass


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def environment(fp):
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        commit = r.stdout.strip() or None
    return {"nproc": os.cpu_count(),
            "mem_total_mb": os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // 2**20,
            "source_sha1": fp, "git_commit": commit}


def run_jvm(cp, a, inject, seconds):
    """One workload in a fresh JVM; returns its report (env, observed, result)."""
    runs = os.path.join(HERE, ".runs")
    work = os.path.join(runs, f"{a.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    cmd = (["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Bench", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(seconds), "--trace", str(a.trace), "--work", work,
              "--expected", EXPECTED] + (["--inject", inject] if inject else []))
    log_path = os.path.join(runs, f"last-{a.workload}.log")
    try:
        with open(log_path, "w") as log:
            code = run_child(cmd, ROOT, env, log, RUN_TIMEOUT_S)
        report = os.path.join(work, "report.json")
        if code != 0 or not os.path.exists(report):
            sys.stderr.write(tail(log_path))
            fail(f"benchmark JVM exited {code}; see perfbench/.runs/last-{a.workload}.log")
        with open(report) as fh:
            return json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def record(workload, seed, observed):
    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as fh:
            expected = json.load(fh)
    expected[f"{workload}/{seed}"] = observed
    with open(EXPECTED, "w") as fh:
        json.dump(dict(sorted(expected.items())), fh, indent=1)
        fh.write("\n")


def selftest(cp, a):
    """Each injected fault must show up as a failed operation."""
    for inject in ("throw", "mismatch"):
        r = run_jvm(cp, a, inject, 1)["result"]
        ok = r["failed"] >= 1 and not r["correct"] and r["attempted"] > r["failed"]
        print(json.dumps({"inject": inject, "reported": r["failed"], "attempted": r["attempted"],
                          "ok": ok}))
        if not ok:
            fail(f"injected {inject} was not reported as a failed operation")


def main():
    # a terminated run still kills and waits for its JVM (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.workload not in WORKLOADS:
        fail(f"unknown workload {a.workload}; expected one of {', '.join(WORKLOADS)}")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    fp = fingerprint()
    cp = build(fp)
    if a.selftest:
        selftest(cp, a)
        return
    report = run_jvm(cp, a, None, a.seconds)
    if a.record:
        if not report["result"]["correct"] or report["observed"] is None:
            fail("not recording the checks of a run that failed")
        record(a.workload, a.seed, report["observed"])
    print(json.dumps({"env": {**environment(fp), **report["env"]}}))
    print(json.dumps(report["result"]))


if __name__ == "__main__":
    main()
