"""Arithmetic behind the benchmark's metrics, kept free of I/O so that
test_stats.py can pin it down.

Inputs are the raw records the JVM harness writes (see
harness/src/main/scala/graftbench/Main.scala): per-op wall times, the
pass's wall and CPU time, set-up timings and, in a traced run, spans,
Spark job spans, per-stage task aggregates and codegen log events.
"""
import statistics

# Percentiles a report may use; one is reported only when at least
# MIN_BEYOND samples lie above it.
PERCENTILES = (50, 75, 90, 95, 99)
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, -(-p * len(xs) // 100))  # ceil(p * n / 100)
    return xs[rank - 1]


def samples_beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile."""
    return n - max(1, -(-p * n // 100))


def highest_supported_percentile(n):
    """The highest percentile in PERCENTILES with at least MIN_BEYOND
    samples beyond it, or None when n is too small even for the median."""
    best = None
    for p in PERCENTILES:
        if samples_beyond(n, p) >= MIN_BEYOND:
            best = p
    return best


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no ops attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside 0..attempted={attempted}")
    return failed / attempted


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of intervals, each
    clipped to [start, end]."""
    clipped = sorted((max(s, start), min(e, end)) for s, e in intervals
                     if e > start and s < end)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span["end"] - span["start"]) - covered(
        span["start"], span["end"], [(c["start"], c["end"]) for c in children])


def events_by_op(spans, events):
    """{op id: number of events stamped inside that op's span}."""
    return {s["op"]: sum(1 for e in events if s["start"] <= e["t"] <= s["end"])
            for s in spans if s["name"] == "op"}


def end_to_end(result):
    """The end-to-end metrics of an untraced run: {name: (value, unit)}."""
    return {
        "setup_s": (result["setup"]["total_s"], "s"),
        "pass_s": (result["pass_wall_s"], "s"),
        "pass_cpu_s": (result["pass_cpu_s"], "s"),
    }


def per_layer(result, steal_jiffies):
    """The per-layer metrics of a traced run: {name: (value, unit)}.

    Op-level figures are totals over the run's one pass. Codegen figures
    count the whole run, set-up included, since a class compiles once
    per JVM wherever it is first used.
    """
    tr = result["trace"]
    spans = tr["spans"]
    op_ids = {o["id"] for o in result["ops"]}
    cores = result["cores"]
    setup = result["setup"]

    op_spans = [s for s in spans if s["op"] in op_ids]
    by_name = {}
    for s in op_spans:
        by_name.setdefault(s["name"], []).append(s)

    def total(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, [])) / 1e3

    jobs = [j for j in tr["jobs"] if j["op"] in op_ids]
    jobs_by_parent = {}
    for j in jobs:
        jobs_by_parent.setdefault(j["parent"], []).append(j)
    job_ids = {j["job"] for j in jobs}
    stages = [st for st in tr["stages"] if st["job"] in job_ids]
    write_jobs = {st["job"] for st in stages if st["write_bytes"] > 0}

    def jobs_under(name):
        return [j for s in by_name.get(name, []) for j in jobs_by_parent.get(s["id"], [])]

    def self_of(name, job_filter=lambda j: True):
        return sum(self_time(s, [j for j in jobs_by_parent.get(s["id"], []) if job_filter(j)])
                   for s in by_name.get(name, [])) / 1e3

    task_ms = [t for st in stages for t in st["task_ms"]]
    n_tasks = len(task_ms)
    task_run_s = sum(task_ms) / 1e3
    op_wall_s = sum(o["wall_s"] for o in result["ops"])
    skews = [max(st["task_ms"]) / statistics.median(st["task_ms"])
             for st in stages if len(st["task_ms"]) > 1 and statistics.median(st["task_ms"]) > 0]
    fallbacks = [e for e in tr["codegen"] if e["kind"] != "compiled"]
    compiled = [e for e in tr["codegen"] if e["kind"] == "compiled"]

    def stage_sum(field):
        return sum(st[field] for st in stages)

    m = {
        "catalog.session_s": (setup["session_s"], "s"),
        "catalog.calibrate_s": (setup["calibrate_s"], "s"),
        "queries.train_s": (setup["train_s"], "s"),
        "queries.construct_s": (total("queries.construct"), "s"),
        "queries.construct_self_s": (self_of("queries.construct"), "s"),
        "queries.construct_jobs": (len(jobs_under("queries.construct")), "count"),
        "catalyst.plan_s": (total("catalyst.plan"), "s"),
        "exec.run_s": (total("exec.run"), "s"),
        "exec.run_self_s": (self_of("exec.run"), "s"),
        "exec.jobs": (len(jobs), "count"),
        "exec.stages": (len(stages), "count"),
        "exec.tasks": (n_tasks, "count"),
        "exec.task_run_s": (task_run_s, "s"),
        "exec.task_cpu_s": (stage_sum("cpu_ns") / 1e9, "s"),
        "exec.gc_s": (stage_sum("gc_ms") / 1e3, "s"),
        "exec.core_busy_frac": (task_run_s / (op_wall_s * cores) if op_wall_s else 0.0, "frac"),
        "exec.shuffle_read_bytes": (stage_sum("shuffle_read_bytes"), "bytes"),
        "exec.shuffle_write_bytes": (stage_sum("shuffle_write_bytes"), "bytes"),
        "exec.spill_bytes": (stage_sum("spill_bytes"), "bytes"),
        "exec.task_skew": (statistics.median(skews) if skews else 1.0, "ratio"),
        "exec.empty_task_frac": (
            sum(st["empty_tasks"] for st in stages) / n_tasks if n_tasks else 0.0, "frac"),
        "exec.task_failures": (sum(st["failed_tasks"] for st in stages), "count"),
        "plans.codegen_fallbacks": (len(fallbacks), "count"),
        "plans.codegen_compile_s": (sum(e["ms"] for e in compiled) / 1e3, "s"),
        "plans.codegen_classes": (result["codegen_classes"], "count"),
        "sources.footer_s": (total("sources.footer"), "s"),
        "sources.read_bytes": (stage_sum("read_bytes"), "bytes"),
        "sources.write_s": (
            sum(j["end"] - j["start"] for j in jobs if j["job"] in write_jobs) / 1e3, "s"),
        "sources.write_bytes": (stage_sum("write_bytes"), "bytes"),
        "operators.subset_s": (
            self_of("operators.subset", lambda j: j["job"] in write_jobs), "s"),
        "operators.subset_jobs": (len(jobs_under("operators.subset")), "count"),
        "operators.validate_s": (total("operators.validate"), "s"),
        "operators.orphans": (sum(o.get("orphans", 0) for o in result["ops"]), "count"),
        "host.steal_jiffies": (steal_jiffies, "jiffies"),
        "trace.pass_s": (result["pass_wall_s"], "s"),
    }
    return m
