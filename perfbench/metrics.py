"""Turns the harness's raw records into metrics.

Kept free of I/O so the rules can be tested on hand-made records:
  - every attempted query is a latency sample; a query that threw, or whose
    output fingerprint did not match, is a sample that missed (+inf), so a
    failure can never read as a speed-up;
  - a percentile is reported only when at least MIN_BEYOND samples rank
    above it;
  - jobs are attributed by the job group of the phase that submitted them
    (see PhaseListener.scala), so eager jobs fired while a query is built
    count in `entry.build_jobs` and never in `exec.jobs`.
"""
import math
import statistics

MIN_BEYOND = 10
MISS = math.inf


def percentile(values, p, min_beyond=MIN_BEYOND):
    """Nearest-rank p-quantile (0 < p < 1), or None when fewer than
    `min_beyond` samples rank above it."""
    n = len(values)
    rank = max(1, math.ceil(p * n))
    if n - rank < min_beyond:
        return None
    return sorted(values)[rank - 1]


def min_samples(p, min_beyond=MIN_BEYOND):
    """Smallest sample count for which `percentile(_, p)` is reported."""
    n = 1
    while n - max(1, math.ceil(p * n)) < min_beyond:
        n += 1
    return n


def failed(sample, mismatched):
    return not sample["ok"] or sample["query"] in mismatched


def end_to_end(samples, timed_s, mismatched):
    """Closed-loop metrics over all attempted samples of a run."""
    lat = [MISS if failed(s, mismatched) else s["wall_s"] for s in samples]
    n_failed = sum(1 for s in samples if failed(s, mismatched))
    return {
        "attempted": len(samples),
        "failed": n_failed,
        "failed_frac": n_failed / len(samples) if samples else 1.0,
        "query_p50_s": percentile(lat, 0.5),
        "query_p90_s": percentile(lat, 0.9),
        "queries_per_s": (len(samples) - n_failed) / timed_s,
    }


def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return statistics.fmean(xs) if xs else 0.0


def core_idle_frac(t, cores):
    capacity = t["exec_s"] * cores
    return 1.0 - t["task_run_s"] / capacity if capacity > 0 else 0.0


def residual_s(t, wall_s):
    return wall_s - t["build_s"] - t["plan_s"] - t["exec_s"]


def overhead_frac(samples):
    """Traced against untraced wall of the same queries in one run: the
    ratio of the sums of per-query medians, minus one."""
    by = {}
    for s in samples:
        if s["ok"]:
            by.setdefault(s["query"], {}).setdefault(
                s["traced"], []).append(s["wall_s"])
    both = [v for v in by.values() if True in v and False in v]
    if not both:
        return None
    return (sum(median(v[True]) for v in both)
            / sum(median(v[False]) for v in both) - 1.0)


def per_layer(traces, walls, tables, io, samples, cores, unattributed):
    """Per-layer metrics of a traced run.

    `traces` are the trace records of the traced samples (the ones that
    completed their sink), `walls` maps a sample index to its wall time,
    `tables` are the table-resolution records and `io` the list of
    (sink_s, output_mb, output_files) of the Sinks writes measured.
    """
    def col(k):
        return [t[k] for t in traces]
    return {
        "tables.resolve_ms": median([t["resolve_ms"] for t in tables]),
        "tables.footer_ms": median([t["footer_ms"] for t in tables]),
        "entry.build_s": median(col("build_s")),
        "entry.build_jobs": mean(col("build_jobs")),
        "entry.registry_ms": median(col("registry_ms")),
        "plan.plan_s": median(col("plan_s")),
        "plan.exchanges": mean(col("exchanges")),
        "exec.exec_s": median(col("exec_s")),
        "exec.jobs": mean(col("jobs")),
        "exec.stages": mean(col("stages")),
        "exec.tasks": mean(col("tasks")),
        "exec.core_idle_frac": median([core_idle_frac(t, cores)
                                       for t in traces]),
        "exec.task_run_s": mean(col("task_run_s")),
        "exec.task_cpu_s": mean(col("task_cpu_s")),
        "exec.gc_s": mean(col("gc_s")),
        "exec.shuffle_write_mb": mean(col("shuffle_write_mb")),
        "exec.shuffle_read_mb": mean(col("shuffle_read_mb")),
        "exec.spill_mb": mean(col("spill_mb")),
        "exec.input_mb": mean(col("input_mb")),
        "exec.input_rows": mean(col("input_rows")),
        "exec.failed_tasks": sum(col("failed_tasks")),
        "pin.pins": mean(col("pins")),
        "pin.storage_mb": mean(col("pin_storage_mb")),
        "pin.release_ms": median(col("release_ms")),
        "io.sink_s": median([w[0] for w in io]),
        "io.output_mb": mean([w[1] for w in io]),
        "io.output_files": mean([w[2] for w in io]),
        "trace.residual_s": median([residual_s(t, walls[t["i"]])
                                    for t in traces]),
        "trace.overhead_frac": overhead_frac(samples) or 0.0,
        "trace.unattributed_jobs": unattributed,
    }


PER_LAYER_UNITS = {
    "tables.resolve_ms": "ms", "tables.footer_ms": "ms",
    "entry.build_s": "s", "entry.build_jobs": "count",
    "entry.registry_ms": "ms", "plan.plan_s": "s",
    "plan.exchanges": "count", "exec.exec_s": "s", "exec.jobs": "count",
    "exec.stages": "count", "exec.tasks": "count",
    "exec.core_idle_frac": "ratio", "exec.task_run_s": "s",
    "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.input_rows": "count",
    "exec.failed_tasks": "count", "pin.pins": "count",
    "pin.storage_mb": "MB", "pin.release_ms": "ms", "io.sink_s": "s",
    "io.output_mb": "MB", "io.output_files": "count",
    "trace.residual_s": "s", "trace.overhead_frac": "ratio",
    "trace.unattributed_jobs": "count",
}
