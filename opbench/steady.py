"""Steadiness report: run a workload K times and print, for every
end-to-end metric, the median, the quartiles and the spread (IQR over
the median) against the metric's bound in BENCHMARK.json; then one run
at a seed outside that set; then the census check (two traced runs with
the same seed, whose Spark job, stage and task counts per op kind must
repeat exactly) with the tracing overhead of the traced run.

    python3 opbench/steady.py --workload governed_read --runs 10
    python3 opbench/steady.py --workload all --runs 5

The runs use seeds 1..K, the extra run seed 1001 and the census runs
seed 1, each for BENCHMARK.json's run_seconds. Every result line is also appended to opbench/.out/steady-<workload>.jsonl.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402

CENSUS = ("spark.jobs_per_op", "spark.stages_per_op", "spark.tasks_per_op")
FIRST_SEED = 1
SECOND_SEED = 1001


def benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def one(workload, seed, seconds, trace, log):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"run failed ({workload} seed {seed} trace {trace}):\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    log.write(json.dumps({"seed": seed, "trace": trace, **res}) + "\n")
    log.flush()
    if not res["correct"]:
        print(f"  seed {seed}: {res['failed']} of {res['attempted']} ops failed")
    return res


def report(workload, runs):
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    log = open(os.path.join(HERE, ".out", f"steady-{workload}.jsonl"), "a")
    bench = benchmark()
    bound = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]
    print(f"== {workload}: {runs} runs, seeds {FIRST_SEED}..{FIRST_SEED + runs - 1}, "
          f"--seconds {seconds}")
    res = [one(workload, FIRST_SEED + i, seconds, 0, log) for i in range(runs)]
    print(f"{'metric':<20}{'median':>12}{'q1':>12}{'q3':>12}{'spread':>9}{'bound':>8}  ok")
    for name, unit, _ in metrics.END_TO_END:
        xs = [r["metrics"][name]["value"] for r in res]
        q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
        spread = (q3 - q1) / med if med else float("inf")
        b = bound.get(name)
        ok = "-" if b is None else ("yes" if spread <= b / 3 else
                                    "within bound" if spread <= b else "NO")
        print(f"{name:<20}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.3f}"
              f"{'' if b is None else b:>8}  {ok}   [{unit}]")
    failed = sum(r["failed"] for r in res)
    print(f"failed ops: {failed} of {sum(r['attempted'] for r in res)}")
    r2 = one(workload, SECOND_SEED, seconds, 0, log)
    print(f"second seed {SECOND_SEED}: " + ", ".join(
        f"{k}={v['value']:.4f}" for k, v in r2["metrics"].items()))
    a = one(workload, FIRST_SEED, seconds, 1, log)["metrics"]
    b = one(workload, FIRST_SEED, seconds, 1, log)["metrics"]
    names = [n for n, _, _ in metrics.PER_LAYER if n.startswith(CENSUS)]
    differ = [n for n in names if a[n]["value"] != b[n]["value"]]
    counted = [n for n in names if a[n]["value"] or b[n]["value"]]
    if differ:
        print("census does NOT repeat:")
        for n in differ:
            x, y = a[n]["value"], b[n]["value"]
            print(f"  {n}: {x} vs {y} (spread {abs(x - y) / max(x, y):.3f})")
    else:
        print(f"census repeats exactly across two traced runs of seed {FIRST_SEED} "
              f"({len(counted)} nonzero counts)")
    over = {n: a[n]["value"] for n in a if n.startswith("trace.overhead_ms.") and a[n]["value"]}
    print("tracing overhead (traced minus untraced median, ms): " +
          (", ".join(f"{n.rsplit('.', 1)[1]}={v:.1f}" for n, v in over.items()) or "none"))
    log.close()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.OPS_PER_SECOND) + ["all"])
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    for w in sorted(run.OPS_PER_SECOND) if a.workload == "all" else [a.workload]:
        report(w, a.runs)


if __name__ == "__main__":
    main()
