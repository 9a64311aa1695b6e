#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt when the
sources changed since the last build (output under .bench_build/),
then runs the workload in a fresh JVM whose working directory is a
scratch directory under .bench_build/; the scratch directory is deleted
afterwards, also on failure. The last stdout line is the result JSON,
printed only when the run succeeds.
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
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("crawl_ingest", "ask_serving", "table_mutations", "stream_ingest")
# the build inputs: the engine's sources and build, the benchmark's own
SOURCES = ("build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties", "perfbench/src/main")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        if os.path.isfile(path):
            files = [path]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile when stale; returns (classpath, jvm options)."""
    os.makedirs(BUILD, exist_ok=True)
    launch = os.path.join(BUILD, "perfbench", "launch.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        fresh = os.path.isfile(launch) and os.path.isfile(stamp_file) \
            and open(stamp_file).read() == stamp
        if not fresh:
            t0 = time.time()
            log = os.path.join(BUILD, "build.log")
            with open(log, "w") as out:
                rc = subprocess.run(
                    ["sbt", "-batch", "-Dsbt.log.noformat=true", "launchFile"],
                    cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            if rc != 0:
                with open(log) as fh:
                    sys.stderr.write(fh.read()[-4000:])
                fail(f"build failed (exit {rc}); full log in {log}")
            with open(stamp_file, "w") as fh:
                fh.write(stamp)
            print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(launch) as fh:
        lines = fh.read().splitlines()
    return lines[0], lines[1:]


def run_jvm(classpath, jvm_opts, args):
    scratch = os.path.join(BUILD, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={scratch}/tmp",
            f"-Dspark.local.dir={scratch}/tmp", "-Dspark.log.level=WARN"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", os.path.join(BUILD, "traces")])
    log = os.path.join(scratch, "jvm.log")
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=err,
                                    stdin=subprocess.DEVNULL, text=True, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s")
        lines = out.rstrip("\n").split("\n")
        for line in lines[:-1]:
            print(line)
        with open(log) as fh:
            for line in fh:
                if line.startswith("[perfbench]"):
                    sys.stderr.write(line)
        if proc.returncode != 0:
            with open(log) as fh:
                # stack frames are noise here; keep the messages
                msgs = [l for l in fh if not l.lstrip().startswith(("at ", "..."))]
            sys.stderr.write("".join(msgs[-60:]))
            fail(f"run failed (exit {proc.returncode})")
        result = json.loads(lines[-1])
        if set(result) != {"correct", "attempted", "failed", "metrics"}:
            fail(f"malformed result line: {lines[-1]}")
        return lines[-1]
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)


def main():
    # a terminated launcher still runs its cleanup: the JVM's process
    # group is killed and the scratch directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    for rel in ("build.sbt", "src/main/scala"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            fail(f"no engine sources here ({rel} missing under {ROOT})")
    classpath, jvm_opts = build()
    line = run_jvm(classpath, jvm_opts, args)
    print(line, flush=True)


if __name__ == "__main__":
    main()
