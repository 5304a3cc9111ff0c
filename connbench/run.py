#!/usr/bin/env python3
"""Connector-to-query benchmark entry point.

Run from the root of a source checkout:

    python3 connbench/run.py --workload ingest_replay --seed 1 --seconds 16 --trace 0
    python3 connbench/run.py --selftest

The engine and the benchmark are compiled from source on first use
(see build.py); the JVM then runs one workload and its last stdout line
is the result object. Everything the run writes stays under
.bench_build/ in the checkout.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("ingest_replay", "live_mixed")
RUN_TIMEOUT_S = 170

# Spark on JDK 17 needs these outside spark-submit (same list as the
# repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def java_cmd(classes, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", "-Xmx3g", "-Xss8m", "-Xms3g", "-XX:MetaspaceSize=256m", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + opens + ["-cp", build.classpath(classes), main] + args)


def run_jvm(cmd, work, timeout):
    """Run the JVM in its own process group; stdout is returned, stderr
    goes to a log under `work` and its tail is shown on failure."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.stderr.write(f"connbench: run exceeded {timeout} s\n")
            return 124, b""
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if proc.returncode != 0:
        with open(log_path, "rb") as f:
            sys.stderr.write(f.read()[-6000:].decode("utf-8", "replace"))
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")

    # a terminated run still stops its JVM (the finally blocks below)
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))

    root = os.getcwd()
    try:
        classes = build.ensure_built(root)
    except build.BuildError as e:
        sys.stderr.write(f"connbench: {e}\n")
        return 2

    base = os.path.join(root, build.BUILD_DIR)
    name = "selftest" if a.selftest else f"{a.workload}-{a.seed}"
    work = os.path.join(base, "work", f"{name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        if a.selftest:
            code, out = run_jvm(java_cmd(classes, work, "graft.connbench.SelfTest", []),
                                work, RUN_TIMEOUT_S)
            sys.stdout.write(out.decode("utf-8", "replace"))
            return code
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--work", work, "--out", os.path.join(base, "out")]
        code, out = run_jvm(java_cmd(classes, work, "graft.connbench.Main", args),
                            work, RUN_TIMEOUT_S)
        lines = [l for l in out.decode("utf-8", "replace").splitlines() if l.strip()]
        if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
            sys.stderr.write("connbench: the run printed no result\n")
            return code or 1
        print("\n".join(lines))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
