"""End-to-end and per-layer metrics: names, units and how each is
computed from job wall times, spans and Spark's stage totals."""

from __future__ import annotations

import statistics

from spans import SparkCollector, Tracer, Unavailable
from workloads import ANALYTICS_MIX

# name -> unit. job_tail_s is the highest percentile with at least ten
# samples beyond it; fail_frac goes out as attempted/failed.
END_TO_END = {
    "setup_s": "s",
    "job_p50_s": "s",
    "job_tail_s": "s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "job.wall_s": "s",
    "job.parse_s": "s",
    "job.plan_s": "s",
    "transforms.apply_s": "s",
    "job.plan_spark_jobs": "count",
    "job.sink_s": "s",
    "job.overhead_s": "s",
    "sources.input_rows": "rows",
    "sources.input_bytes": "bytes",
    "sinks.output_rows": "rows",
    "sinks.output_bytes": "bytes",
    "sinks.lakehouse.merge_s": "s",
    "sinks.lakehouse.commit_s": "s",
    "sinks.lakehouse.table_rows": "rows",
    "sinks.lakehouse.write_amp": "ratio",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.python_stages": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.cpu_util": "ratio",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_ms": "ms",
}
for _q in ANALYTICS_MIX:
    PER_LAYER.update({f"dataops.{_q}.build_s": "s",
                      f"dataops.{_q}.build_jobs": "count",
                      f"dataops.{_q}.action_s": "s",
                      f"dataops.{_q}.action_jobs": "count"})


def tail(walls: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples above it, and
    its label. It never goes below the median: with 20 samples or fewer
    that rule would pick a low order statistic (with 11 samples, the
    minimum), so the median is reported and labelled as such."""
    xs = sorted(walls)
    n = len(xs)
    if n - 11 < n // 2:
        return statistics.median(xs), f"p50 of n={n} (fewer than 21 samples)"
    return xs[n - 11], f"p{100 * (n - 10) / n:.1f} of n={n}"


def peak_rss_mb(jvm_pid: int | None) -> float | Unavailable:
    """Sum of the driver's and the JVM's own peak resident set
    (VmHWM), in MiB."""
    total = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            return Unavailable("JVM process id not known")
        try:
            with open(f"/proc/{pid}/status") as f:
                line = next(x for x in f if x.startswith("VmHWM:"))
        except (OSError, StopIteration) as e:
            return Unavailable(f"/proc/{pid}/status: {e!r}")
        total += int(line.split()[1])
    return total / 1024


def _jobs_of(spans, group_jobs) -> list[int] | Unavailable:
    out: set[int] = set()
    for s in spans:
        ids = group_jobs[s.span_id]
        if isinstance(ids, Unavailable):
            return ids
        out.update(ids)
    return sorted(out)


def job_layers(tracer: Tracer, collector: SparkCollector, job: int,
               wall: float, cores: int,
               changelog_bytes: int | None) -> dict:
    """Per-layer values of one traced job. Spark numbers are read after
    the listener bus has drained, outside the job's timed interval."""
    spans = tracer.job_spans(job)
    kids: dict[int | None, list] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def subtree(name: str) -> list:
        out, todo = [], [s for s in spans if s.name == name]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s.span_id, [])
        return out

    def secs(name: str) -> float:
        return sum(s.seconds for s in spans if s.name == name)

    def self_secs(name: str) -> float:
        return sum(s.seconds - sum(c.seconds for c in kids.get(s.span_id, []))
                   for s in spans if s.name == name)

    plan, sink = secs("job.plan"), secs("sinks.write")
    run = secs("job.run")
    v: dict = {
        "trace.overhead_s": tracer.bookkeeping.get(job, 0.0),
        "job.wall_s": wall,
        "job.parse_s": secs("job.parse"),
        "job.plan_s": plan,
        "transforms.apply_s": secs("transforms.apply"),
        "job.sink_s": sink,
        "job.overhead_s": run - plan - sink if run else 0.0,
        "sinks.lakehouse.merge_s": self_secs("sinks.lakehouse.merge"),
        "sinks.lakehouse.commit_s": secs("sinks.lakehouse.commit"),
    }
    for q in ANALYTICS_MIX:
        v[f"dataops.{q}.build_s"] = secs(f"dataops.{q}.build")
        v[f"dataops.{q}.action_s"] = secs(f"dataops.{q}.action")

    drained = collector.drain()
    if drained is not None:
        group_jobs = {s.span_id: drained for s in spans}
    else:
        group_jobs = {s.span_id: collector.group_jobs(s.group)
                      for s in spans}

    def n_jobs(name: str):
        ids = _jobs_of(subtree(name), group_jobs)
        return ids if isinstance(ids, Unavailable) else len(ids)

    v["job.plan_spark_jobs"] = n_jobs("job.plan")
    for q in ANALYTICS_MIX:
        v[f"dataops.{q}.build_jobs"] = n_jobs(f"dataops.{q}.build")
        v[f"dataops.{q}.action_jobs"] = n_jobs(f"dataops.{q}.action")

    all_jobs = _jobs_of(spans, group_jobs)
    t = collector.stage_totals(all_jobs)
    c = collector.stage_totals(_jobs_of(subtree("sinks.lakehouse.commit"),
                                        group_jobs))
    v["spark.jobs"] = (all_jobs if isinstance(all_jobs, Unavailable)
                       else len(all_jobs))
    v.update({
        "sources.input_rows": t["input_rows"],
        "sources.input_bytes": t["input_bytes"],
        "sinks.output_rows": t["output_rows"],
        "sinks.output_bytes": t["output_bytes"],
        "sinks.lakehouse.table_rows": c["output_rows"],
        "spark.stages": t["stages"],
        "spark.tasks": t["tasks"],
        "spark.python_stages": t["python_stages"],
        "spark.executor_run_ms": t["executor_run_ms"],
        "spark.executor_cpu_ms": _scale(t["executor_cpu_ns"], 1e-6),
        "spark.cpu_util": _scale(t["executor_run_ms"],
                                 1 / (wall * 1000 * cores)),
        "spark.shuffle_read_bytes": t["shuffle_read_bytes"],
        "spark.shuffle_write_bytes": t["shuffle_write_bytes"],
        "spark.spill_bytes": t["spill_bytes"],
        "spark.gc_ms": t["gc_ms"],
        "sinks.lakehouse.write_amp": (
            _scale(c["output_bytes"], 1 / changelog_bytes)
            if changelog_bytes else 0.0),
    })
    return v


def _scale(x, factor: float):
    return x if isinstance(x, Unavailable) else x * factor


def mean_layers(per_job: list[dict]) -> dict:
    """Per-job mean of each layer metric; a metric unavailable in any
    traced job is unavailable overall."""
    out = {}
    for name in per_job[0]:
        vals = [d[name] for d in per_job]
        bad = next((x for x in vals if isinstance(x, Unavailable)), None)
        out[name] = bad if bad is not None else statistics.fmean(vals)
    return out
