#!/usr/bin/env python3
"""Run one workload of the lakehouse benchmark and print its result.

    python3 perfbench/run.py --workload ingest_query --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine (through
the repository's own build.sbt) and the benchmark with sbt and caches the
runtime classpath under .bench_build/; later runs start the JVM directly.
The last line of stdout is one JSON object: correct, attempted, failed,
metrics. Exits non-zero, printing no result, when the build or the run
fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
WORKLOADS = ("ingest_query", "corpus_curation")

# Spark on JDK 17 needs these when a session is created outside
# spark-submit; the list matches the javaOptions of the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint(root):
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    inputs = ["build.sbt", "project/build.properties",
              "perfbench/build.sbt", "perfbench/project/build.properties"]
    for top in ("src/main", "perfbench/src/main"):
        for d, dirs, files in os.walk(os.path.join(root, top)):
            dirs.sort()
            inputs += [os.path.relpath(os.path.join(d, f), root) for f in sorted(files)]
    for rel in inputs:
        p = os.path.join(root, rel)
        if os.path.isfile(p):
            h.update(rel.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, stdout, stderr):
    """Run `cmd` in its own process group; kill the whole group on timeout
    and wait for it, so nothing outlives this script."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None, None
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def tmp_dir(scratch):
    d = os.path.join(scratch, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def classpath(root, scratch):
    cp_file = os.path.join(scratch, "classpath.txt")
    stamp_file = os.path.join(scratch, "classpath.stamp")
    stamp = source_fingerprint(root)
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log_path = os.path.join(scratch, "build.log")
    t0 = time.time()
    with open(log_path, "wb") as log:
        code, _ = run_bounded(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Djava.io.tmpdir={tmp_dir(scratch)}",
             "export bench/Runtime/fullClasspath"],
            os.path.join(root, "perfbench"), BUILD_TIMEOUT_S, log, subprocess.STDOUT)
    if code != 0:
        fail(f"build failed (exit {code}); see {log_path}")
    with open(log_path, errors="replace") as log:
        lines = [l for l in log.read().splitlines()
                 if "scala-2.13" in l and not l.startswith("[")]
    if not lines:
        fail(f"build printed no classpath; see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def main():
    # a terminated run still stops the JVM it started (see run_bounded)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("run from the root of a checkout: the engine sources are missing")
    scratch = os.path.join(root, ".bench_build")
    os.makedirs(os.path.join(scratch, "logs"), exist_ok=True)
    cp = classpath(root, scratch)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # a fixed young generation and no adaptive sizing make the heap grow
    # with allocation rather than with GC timing, so peak RSS repeats
    cmd = [java, "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn768m", "-Xms1g", "-Xmx3g",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir(scratch)}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--root", root]
    log_path = os.path.join(
        scratch, "logs", f"{args.workload}-{args.seed}-{args.trace}.log")
    with open(log_path, "wb") as log:
        code, out = run_bounded(cmd, root, RUN_TIMEOUT_S, subprocess.PIPE, log)
    if code is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s; see {log_path}")
    text = out.decode(errors="replace").strip().splitlines()
    if code != 0 or not text:
        fail(f"run failed (exit {code}); see {log_path}")
    try:
        result = json.loads(text[-1])
    except ValueError:
        fail(f"last line is not JSON: {text[-1][:200]}; see {log_path}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
