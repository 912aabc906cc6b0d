"""Turn one raw JVM result into the benchmark's metric line.

End-to-end metrics (untraced runs) are the same five names on every
workload; each latency is taken over ONE op kind, and every percentile
must have at least MIN_BEYOND samples beyond it, or the run fails loudly.
Per-layer metrics (traced runs) come from the JVM's span, counter and
census tables; a layer the workload never calls reports 0.
"""

import math
import statistics

MIN_BEYOND = 10

# the op kind whose latencies form read_p50_ms, per workload: the
# governed read itself, or the fresh read that follows each commit
READ_KIND = {"governed_read": "read", "write_cycle": "fresh_read", "curation": "fresh_read"}

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("read_p50_ms", "ms", "lower"),
    ("throughput_per_s", "1/s", "higher"),
    ("heap_retained_mb", "MB", "lower"),
    ("storage_amp", "ratio", "lower"),
]

KINDS = ["read", "fresh_read", "append", "delete", "update", "merge", "compact", "pass"]

PER_LAYER = [
    ("plans.analyze_ms", "ms", "lower"),
    ("catalog.resolve_us", "us", "lower"),
    ("acl.filters_ms", "ms", "lower"),
    ("acl.allowed_files_ms", "ms", "lower"),
    ("acl.authorize_ms", "ms", "lower"),
    ("acl.filelist_hit_ratio", "ratio", "higher"),
    ("acl.perms_hit_ratio", "ratio", "higher"),
    ("acl.keys_seen", "count", "lower"),
    ("acl.filelist_evictions", "count", "lower"),
    ("acl.perms_evictions", "count", "lower"),
    ("prune.ms", "ms", "lower"),
    ("prune.kept_ratio", "ratio", "lower"),
    ("listing.page_ms", "ms", "lower"),
    ("raw.range_ms", "ms", "lower"),
    ("scan.ms", "ms", "lower"),
    ("scan.rows_per_s", "1/s", "higher"),
    ("log.version_ms", "ms", "lower"),
    ("log.snapshot_ms", "ms", "lower"),
    ("log.tail_commits", "count", "lower"),
    ("log.cached_snapshot_ms", "ms", "lower"),
    ("commit.append_ms", "ms", "lower"),
    ("commit.files_written", "count", "lower"),
    ("commit.log_bytes", "bytes", "lower"),
    ("dml.delete_ms", "ms", "lower"),
    ("dml.update_ms", "ms", "lower"),
    ("dml.merge_ms", "ms", "lower"),
    ("dml.bytes_rewritten_per_row", "bytes/row", "lower"),
    ("dml.dv_files", "count", "lower"),
    ("maint.checkpoint_commit_ms", "ms", "lower"),
    ("maint.compact_ms", "ms", "lower"),
    ("maint.bytes_rewritten", "bytes", "lower"),
    ("llm.exact_ms", "ms", "lower"),
    ("llm.minhash_ms", "ms", "lower"),
    ("llm.cc_ms", "ms", "lower"),
    ("llm.filter_ms", "ms", "lower"),
    ("llm.topk_ms", "ms", "lower"),
    ("llm.pair_precision", "ratio", "higher"),
] + [(f"trace.overhead_ms.{k}", "ms", "lower") for k in KINDS] + [
    (f"{m}.{k}", unit, "lower")
    for m, unit in (("spark.jobs_per_op", "count"), ("spark.stages_per_op", "count"),
                    ("spark.tasks_per_op", "count"), ("spark.shuffle_bytes_per_op", "bytes"),
                    ("spark.driver_gap_ms", "ms"))
    for k in KINDS] + [
    # GC time per op only for the kinds a collection lands in on every
    # run; delete, update and compact (4, 2 and 2 ops a run) mostly read 0
    (f"jvm.gc_ms.{k}", "ms", "lower") for k in KINDS
    if k not in ("delete", "update", "compact")]


class SampleError(Exception):
    pass


def p50(pops, kind):
    """Median latency of one op kind, refusing a population with fewer
    than MIN_BEYOND samples beyond the median. A population is one kind
    by construction: the JVM keys its latencies by op kind."""
    xs = pops.get(kind, {}).get("ms", [])
    beyond = len(xs) - math.ceil(len(xs) / 2)
    if beyond < MIN_BEYOND:
        raise SampleError(f"p50 of '{kind}' has {beyond} samples beyond it "
                          f"(of {len(xs)}); at least {MIN_BEYOND} are needed")
    return statistics.median(xs)


def throughput(raw, workload):
    """Reads over the timed wall time; commits of every kind over the
    timed wall time; documents curated over the time of the passes alone
    (the read-backs after each pass excluded)."""
    if workload == "governed_read":
        return len(raw["ops"]["read"]["ms"]) / raw["wall_s"]
    if workload == "write_cycle":
        return raw["totals"]["commits"] / raw["wall_s"]
    return raw["totals"]["docs"] / (sum(raw["ops"]["pass"]["ms"]) / 1000)


def end_to_end(raw, workload):
    ops = raw["ops"]
    values = {
        "setup_s": raw["setup_s"],
        "read_p50_ms": p50(ops, READ_KIND[workload]),
        "throughput_per_s": throughput(raw, workload),
        "heap_retained_mb": raw["heap_retained_mb"],
        "storage_amp": raw["totals"]["storage_amp"],
    }
    return {n: {"value": values[n], "unit": u} for n, u, _ in END_TO_END}


def per_layer(raw):
    got = dict(raw["totals"])
    got.update(raw.get("layers", {}))
    got.update(raw.get("census", {}))
    return {n: {"value": got.get(n) or 0.0, "unit": u} for n, u, _ in PER_LAYER}


def result(raw, workload, trace):
    metrics = per_layer(raw) if trace else end_to_end(raw, workload)
    return {"correct": raw["failed"] == 0, "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}
