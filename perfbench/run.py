#!/usr/bin/env python3
"""Benchmark entry point for the block indexer.

    python3 perfbench/run.py --workload daemon --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source when they changed
(`perfbench/build.sh`, into `.bench_build/classes`), generates the
workload's corpus from `--seed` (`perfbench/gen.py`), runs the JVM
harness (`graft.perfbench.BenchMain`) at `local[<cores>]`, and prints
its run record and, as the last line, the result JSON. Exits non-zero
when the build, the run or an output check fails.

Everything it writes stays under `.bench_build/` in the checkout; the
per-run work directory is removed when the run ends.
"""

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
sys.path.insert(0, HERE)
import gen  # noqa: E402

# corpus sizes per workload. The daemon's chain is a backlog of
# BACKLOG_BLOCKS, then a tail its writer appends at TAIL_RATE blocks/s
# for the unmeasured warm-up plus the measuring window. Its set-up
# drains a chain of WARM_BLOCKS
BACKLOG_BLOCKS, WARM_BLOCKS = 100, 20
TAIL_RATE, TAIL_WARMUP_S = 6.0, 2.0
# a traced daemon run holds three passes and the layer walk, so its
# passes are smaller: a TRACED_BACKLOG-block backlog and half the window
TRACED_BACKLOG = 50
EXPLORER_BLOCKS, EXPLORER_LOOKUPS = 60, 1000
WALK_LOOKUPS = 20  # the layer walk's read probe
TIMEOUT_S = 170  # generating and the harness must end, and be cleaned up, within 180 s

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            sys.exit("run.py: set SPARK_HOME or put spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home, "jars")


def source_stamp():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sh")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("run.py: no program sources in this checkout (src/main/scala)")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    subprocess.run(["bash", os.path.join(HERE, "build.sh"), CLASSES], check=True,
                   stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def generate(workload, seed, seconds, backlog, work):
    """Writes the workload's corpora: for the daemon a warm-up corpus and
    its backlog-then-tail chain; for the explorer the corpus its
    backfill reads."""
    p = gen.Params
    corpus = os.path.join(work, "corpus")
    if workload == "daemon":
        gen.write_corpus(os.path.join(work, "warm"), seed + 1000003, p(blocks=WARM_BLOCKS))
        tail = math.ceil(TAIL_RATE * (TAIL_WARMUP_S + seconds)) + 2
        gen.write_corpus(corpus, seed, p(blocks=backlog + tail), WALK_LOOKUPS,
                         backlog=backlog)
    elif workload == "explorer":
        gen.write_corpus(corpus, seed, p(blocks=EXPLORER_BLOCKS), EXPLORER_LOOKUPS)
    else:
        sys.exit(f"run.py: unknown workload {workload}")


def main():
    ap = argparse.ArgumentParser(description="block-indexer benchmark")
    ap.add_argument("--workload", required=True, choices=["daemon", "explorer"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    # a terminated run still stops the harness and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    build()
    deadline = time.monotonic() + TIMEOUT_S
    cores = len(os.sched_getaffinity(0))
    tag = f"{a.workload}-{a.seed}-{a.trace}"
    work = os.path.join(BUILD, "work", f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    window, backlog = a.seconds, BACKLOG_BLOCKS
    if a.workload == "daemon" and a.trace:
        window, backlog = max(1, a.seconds // 2), TRACED_BACKLOG
    try:
        generate(a.workload, a.seed, window, backlog, work)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        # the heap is reserved, not pre-touched, and the young generation
        # is fixed, so resident memory follows what the program holds and
        # not G1's pause-time sizing
        cmd = [java, "-Xms3g", "-Xmx3g", "-Xmn512m", "-Xss8m", "-XX:-UsePerfData",
               f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.sql.session.timeZone=UTC"]
        for o in JDK17_OPENS:
            cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
        cmd += ["-cp", f"{CLASSES}:{spark_jars()}/*", "graft.perfbench.BenchMain",
                "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(window), "--trace", str(a.trace),
                "--cores", str(cores), "--work", work,
                "--tail-rate", str(TAIL_RATE), "--tail-warmup", str(TAIL_WARMUP_S),
                "--trace-file", os.path.join(BUILD, "traces", f"{tag}.json")]
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                                    cwd=work)
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                sys.exit(f"run.py: run did not end within {TIMEOUT_S} s (log: {log})")
            finally:
                if proc.poll() is None:  # timed out or interrupted
                    proc.kill()
                    proc.wait()
        lines = [ln for ln in out.splitlines() if ln.startswith("{")]
        result = json.loads(lines[-1]) if lines else None
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.stderr.write(out[-4000:])
            sys.exit(f"run.py: harness exited {proc.returncode} without a result (log: {log})")
        for ln in lines[:-1]:
            print(ln)
        print(json.dumps(result, separators=(",", ":")))
        sys.exit(proc.returncode)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
