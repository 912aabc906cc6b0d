"""Benchmark entry point: build, run one workload in a fresh JVM, check,
and print one JSON result line.

    python3 opbench/run.py --workload governed_read --seed 1 --seconds 20 --trace 0

--trace 0 prints the end-to-end metrics (BENCHMARK.json `end_to_end`);
--trace 1 runs the traced mode and prints the per-layer metrics
(`per_layer`). See opbench/README.md.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import metrics  # noqa: E402

# Client ops per second of --seconds, fixed per workload, so a run
# executes a fixed op count (and a seed a fixed op sequence) whatever
# the machine's speed. A write_cycle op is a commit or the fresh read
# after it; a curation op is one pass over the corpus (with its shard
# read-backs).
OPS_PER_SECOND = {"governed_read": 1.0, "write_cycle": 2.0, "curation": 0.1}
CYCLE = {"write_cycle": 20}  # ops come in whole cycles

# -XX:-UsePerfData: no hsperfdata file outside the work directory
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-Xss4m", "-XX:-UsePerfData"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]

DEADLINE_S = 170


def op_count(workload, seconds):
    n = max(1, round(OPS_PER_SECOND[workload] * seconds))
    step = CYCLE.get(workload, 1)
    return max(step, n // step * step)


def run_jvm(jar, workload, seed, ops, trace, work, deadline):
    out = os.path.join(work, "result.json")
    os.makedirs(os.path.join(work, "tmp"))
    # class-data archive of the workload, next to the jar: the first run
    # of a workload in a build writes it at exit, later runs map it and
    # so load the Spark classes faster
    archive = os.path.join(os.path.dirname(jar), f"classes-{workload}.jsa")
    fresh = os.path.join(work, "classes.jsa")
    cds = (f"-XX:SharedArchiveFile={archive}" if os.path.exists(archive)
           else f"-XX:ArchiveClassesAtExit={fresh}")
    cmd = [build.java()] + JVM_FLAGS + [cds,
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dderby.system.home={work}",
        f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
        "-cp", os.pathsep.join([jar, os.path.join(build.spark_jars(), "*")]),
        "opbench.Main", "--workload", workload, "--seed", str(seed),
        "--ops", str(ops), "--trace", str(trace), "--work", work,
        "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError("benchmark JVM ran past the deadline")
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"benchmark JVM exited {rc}:\n{tail}")
    if os.path.exists(fresh):
        os.replace(fresh, archive)
    with open(out) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(OPS_PER_SECOND))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        jar = build.build()
    except build.BuildError as e:
        sys.exit(f"build failed: {e}")
    deadline = time.time() + DEADLINE_S  # the run's own limit, after any build
    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(jar, a.workload, a.seed, op_count(a.workload, a.seconds),
                      a.trace, work, deadline)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            keep = os.path.join(HERE, ".out")
            os.makedirs(keep, exist_ok=True)
            shutil.copyfile(spans, os.path.join(keep, f"spans-{a.workload}-{a.seed}.jsonl"))
    except RuntimeError as e:
        sys.exit(str(e))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    try:
        result = metrics.result(raw, a.workload, a.trace)
    except metrics.SampleError as e:
        sys.exit(f"sample guard: {e}")
    print(f"phases: set-up {raw['setup_s']:.1f} s, timed {raw['wall_s']:.1f} s",
          file=sys.stderr)
    for line in raw.get("failures", []):
        print(f"failure: {line}", file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
