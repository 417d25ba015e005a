#!/usr/bin/env python3
"""Benchmark for graft: builds the program from source, then runs one
workload in a fresh JVM and prints the result object as the last line.

    python3 perfbench/run.py --workload kg_cold --seed 42 --seconds 5 --trace 0
    python3 perfbench/run.py --parity

Run from the repository root. The first run in a checkout compiles the
program and the benchmark (sbt, offline) and prebuilds the query session's
auxiliary tables; later runs start the JVM directly. Build outputs and
working files live under $CARGO_TARGET_DIR (default .bench_build).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("kg_cold", "query_session")
RUN_TIMEOUT_S = 170
PARITY_TIMEOUT_S = 900
BUILD_TIMEOUT_S = 780
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

child = None


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def on_signal(signum, _frame):
    stop_child()
    sys.exit(128 + signum)


def stop_child():
    """Kills the child's whole process group and waits for it."""
    global child
    if child is not None and child.poll() is None:
        try:
            os.killpg(child.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        child.wait()
    child = None


def run_child(cmd, timeout, cwd=None, env=None, capture=False):
    """Runs cmd in its own process group; returns (exit code, stdout)."""
    global child
    child = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                             stdout=subprocess.PIPE if capture else sys.stderr,
                             stderr=sys.stderr, text=True)
    try:
        out, _ = child.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        stop_child()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:1] + cmd[-6:])}", 1)
    code = child.returncode
    child = None
    return code, out or ""


def source_digest(root):
    """Hash of every file the build reads, so an edited tree rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"), HERE]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, subdirs, files in os.walk(top)
            for f in files if "target" not in d.split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".parquet")):
                h.update(p[len(root):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def java_cmd(out, classpath, args, heap=HEAP):
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            [f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
             f"-Djava.io.tmpdir={os.path.join(out, 'tmp')}",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
             "-cp", classpath, "graftbench.Main"] + args)


def build(root, out, data):
    """Compiles the program and the benchmark, writes the runtime classpath
    and prebuilds the auxiliary tables; skipped when nothing changed."""
    stamp = os.path.join(out, "perfbench", "build.stamp")
    digest = source_digest(root)
    cp_file = os.path.join(out, "perfbench", "classpath.txt")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, _ = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dperfbench.out={out}",
                         "perfbench/writeClasspath"], BUILD_TIMEOUT_S, cwd=HERE, env=env)
    if code != 0:
        fail(f"build failed with exit code {code}", 1)
    classpath = open(cp_file).read().strip()
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    work = os.path.join(out, "work", "prepare")
    code, _ = run_child(java_cmd(out, classpath, ["prepare", "--work", work, "--data", data]),
                        BUILD_TIMEOUT_S)
    shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"auxiliary tables failed with exit code {code}", 1)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return classpath


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--parity", action="store_true",
                    help="check the benchmark's job against KgRun.main instead")
    a = ap.parse_args()
    if not a.parity and a.workload is None:
        fail("--workload is required")

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    data = os.path.join(HERE, "data", "sf0.001")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    classpath = build(root, out, data)

    work = os.path.join(out, "work", f"run-{os.getpid()}")
    for stale in os.listdir(os.path.dirname(work)) if os.path.isdir(os.path.dirname(work)) else []:
        shutil.rmtree(os.path.join(os.path.dirname(work), stale), ignore_errors=True)
    os.makedirs(work)
    try:
        if a.parity:
            args, heap, timeout = ["parity", "--work", work], "4g", PARITY_TIMEOUT_S
        else:
            args, heap, timeout = ["run", "--workload", a.workload, "--seed", str(a.seed),
                          "--seconds", str(a.seconds), "--trace", str(a.trace),
                          "--work", work, "--data", data], HEAP, RUN_TIMEOUT_S
        code, stdout = run_child(java_cmd(out, classpath, args, heap), timeout, capture=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    if code != 0 or not lines:
        sys.stderr.write("\n".join(lines) + "\n" if lines else "")
        fail(f"benchmark exited with code {code}", 1)
    if a.parity:
        print("\n".join(lines))
        return
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        listed = {m["name"] for m in json.load(fh)["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != listed:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(result['metrics']) ^ listed)}", 1)
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
