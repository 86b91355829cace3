"""Turns the JVM's run records, the trace and the checker's verdicts into the
benchmark's metrics.

End-to-end metrics come from untraced invocations (``--trace 0``); per-layer
metrics come from the traced runs of a ``--trace 1`` invocation, whose timed
runs alternate traced and untraced. Every per-layer metric is a median over
the traced runs, leaving out ``rds_redshift``'s redelivered runs (which load
nothing); a layer the workload does not call reports 0.
"""
from collections import defaultdict

import stats

MB = 1024 * 1024

END_TO_END = [
    ("setup_s", "s", "lower"),
    ("run_p50_s", "s", "lower"),
    ("run_tail_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("ok_run_share", "ratio", "higher"),
    ("right_row_share", "ratio", "higher"),
    ("heap_retained_mb", "MB", "lower"),
]

REPORTS = ("supplier_report", "part_brand_report")
LAYERS = ("job", "tables", "bookmarks", "star", "reports", "sink", "dedup")

PER_LAYER = [
    ("session.start_s", "s", "lower"),
    ("tables.load_s", "s", "lower"),
    ("tables.files", "count", "lower"),
    ("bookmarks.maxkey_s", "s", "lower"),
    ("bookmarks.bounds_s", "s", "lower"),
    ("bookmarks.commit_s", "s", "lower"),
    ("bookmarks.rows_scanned", "rows", "lower"),
    ("bookmarks.scan_amplification", "ratio", "lower"),
    ("star.cache_build_s", "s", "lower"),
    ("star.cache_mb", "MB", "lower"),
    ("star.shuffle_mb", "MB", "lower"),
    ("reports.fanout_s", "s", "lower"),
    ("reports.supplier_report_s", "s", "lower"),
    ("reports.part_brand_report_s", "s", "lower"),
    ("reports.overlap", "ratio", "higher"),
    ("reports.pool_wait_s", "s", "lower"),
    ("job.spark_jobs", "count", "lower"),
    ("job.stages", "count", "lower"),
    ("job.one_task_stages", "count", "lower"),
    ("job.tasks", "count", "lower"),
    ("job.driver_gap_s", "s", "lower"),
    ("job.gc_s", "s", "lower"),
    ("job.spill_mb", "MB", "lower"),
    ("sink.load_s", "s", "lower"),
    ("sink.parts", "count", "lower"),
    ("sink.rows", "rows", "lower"),
    ("dedup.pairs_s", "s", "lower"),
    ("dedup.pairs", "count", "lower"),
    ("dedup.clusters_s", "s", "lower"),
    ("dedup.cluster_jobs", "count", "lower"),
    ("dedup.one_task_stages", "count", "lower"),
    ("dedup.keep_best_s", "s", "lower"),
] + [(f"layer.{l}.{k}_s", "s", "lower") for l in LAYERS for k in ("self", "wait")] + [
    ("trace.overhead_s", "s", "lower"),
]

UNITS = {name: unit for name, unit, _ in END_TO_END + PER_LAYER}


def _dur(x):
    return (x["end_us"] - x["start_us"]) / 1e6


def _iv(x):
    return (x["start_us"], x["end_us"])


def _layer_of(span_name):
    head = span_name.split(".")[0]
    return "job" if head == "run" else head


class RunTrace:
    """Spans, Spark jobs and stages of one traced run."""

    def __init__(self, rec, spans, jobs, stages, counts, cache_bytes):
        self.rec = rec
        self.spans = spans
        self.counts = counts
        self.cache_bytes = cache_bytes
        self.run_span = next(s for s in spans if s["name"] == "run")
        # Spark work of the run itself; probe calls made before the run
        # span opened are timed by their own spans only
        inside = {self.run_span["id"]}
        for s in sorted(spans, key=lambda s: s["id"]):
            if s["parent"] in inside:
                inside.add(s["id"])
        self.jobs = [j for j in jobs if j["span"] in inside]
        self.stages = {s["id"]: s for s in stages if s["span"] in inside}

    def named(self, prefix):
        return [s for s in self.spans if s["name"].startswith(prefix)]

    def total(self, prefix):
        return sum(_dur(s) for s in self.named(prefix))

    def job_stages(self, job):
        return [self.stages[i] for i in job["stages"] if i in self.stages]

    def jobs_under(self, span):
        return [j for j in self.jobs if j["span"] == span["id"]]

    def wait_us(self, job):
        launches = [s["first_launch_us"] for s in self.job_stages(job) if s["first_launch_us"] > 0]
        return max(0, min(launches) - job["start_us"]) if launches else 0

    def self_and_wait(self, span):
        children = [_iv(c) for c in self.spans if c["parent"] == span["id"]]
        jobs = self.jobs_under(span)
        self_us = stats.self_time(_iv(span), children + [_iv(j) for j in jobs])
        return self_us / 1e6, sum(self.wait_us(j) for j in jobs) / 1e6


def _scanning(job):
    """Jobs that read the fact: not dimension broadcasts, not file listing."""
    return "broadcast exchange" not in job["desc"] and "execution" in job["desc"]


def layer_values(workload, t, verdict):
    """Per-layer metric values of one traced run."""
    m = {name: 0.0 for name, _, _ in PER_LAYER}
    run = t.run_span
    star = workload != "near_dup"
    sinks = [s for s in t.named("sink.") if s["name"][5:] in REPORTS]

    m["tables.load_s"] = t.total("tables.load")
    m["tables.files"] = sum(c["value"] for c in t.counts if c["name"] == "tables.files")
    m["bookmarks.commit_s"] = t.total("bookmarks.commit")
    if workload == "rds_redshift":
        m["bookmarks.maxkey_s"] = t.total("bookmarks.maxKey")
        m["bookmarks.bounds_s"] = t.total("bookmarks.readJdbc")
    elif star and sinks:
        # IncrementalStarJob.run takes the bookmark max before the fan-out
        first_sink = min(s["start_us"] for s in sinks)
        pre = [_iv(j) for j in t.jobs_under(run) if _scanning(j) and j["start_us"] < first_sink]
        m["bookmarks.maxkey_s"] = stats.union_length(pre) / 1e6
    if star:
        scanned = sum(st["records_read"] for j in t.jobs if _scanning(j)
                      for st in t.job_stages(j))
        m["bookmarks.rows_scanned"] = scanned
        if verdict.get("rows"):
            m["bookmarks.scan_amplification"] = scanned / verdict["rows"]
        builds = []
        for j in t.jobs:
            cached = [s for s in t.job_stages(j) if s["cached_rdds"]]
            if cached:
                first = min(cached, key=lambda s: s["submit_us"])
                builds.append((first["submit_us"], first["complete_us"]))
        m["star.cache_build_s"] = stats.union_length(builds) / 1e6
        m["star.cache_mb"] = t.cache_bytes / MB
        m["star.shuffle_mb"] = sum(s["shuffle_write_bytes"] for s in t.stages.values()) / MB

    if sinks:
        # ParallelReports.run's wall: its own span where the benchmark makes
        # the call, else the envelope of the report threads' sink spans
        fan = t.named("reports.run")
        if fan:
            fanout = _dur(fan[0])
        else:
            fanout = (max(s["end_us"] for s in sinks) - min(s["start_us"] for s in sinks)) / 1e6
        m["reports.fanout_s"] = fanout
        for r in REPORTS:
            m[f"reports.{r}_s"] = t.total(f"sink.{r}")
        m["reports.overlap"] = sum(_dur(s) for s in sinks) / fanout if fanout else 0.0
        m["reports.pool_wait_s"] = sum(t.wait_us(j) for s in sinks for j in t.jobs_under(s)) / 1e6
        m["sink.load_s"] = sum(t.self_and_wait(s)[0] for s in sinks)
        m["sink.rows"] = sum(st["records_written"] for s in sinks for j in t.jobs_under(s)
                             for st in t.job_stages(j))
        m["sink.parts"] = verdict.get("parts", 0)

    stages = list(t.stages.values())
    m["job.spark_jobs"] = len(t.jobs)
    m["job.stages"] = len(stages)
    m["job.one_task_stages"] = sum(1 for s in stages if s["num_tasks"] == 1)
    m["job.tasks"] = sum(s["tasks"] for s in stages)
    busy = stats.union_length([stats.clip(_iv(j), _iv(run)) for j in t.jobs])
    m["job.driver_gap_s"] = _dur(run) - busy / 1e6
    m["job.gc_s"] = t.rec["gc_ms"] / 1000.0
    m["job.spill_mb"] = sum(s["spill_bytes"] for s in stages) / MB

    if workload == "near_dup":
        clusters = t.named("dedup.clusters")
        m["dedup.pairs_s"] = t.total("dedup.pairs")
        m["dedup.clusters_s"] = t.total("dedup.clusters")
        m["dedup.keep_best_s"] = t.total("dedup.keep_best")
        m["dedup.pairs"] = verdict.get("pairs", 0)
        m["dedup.cluster_jobs"] = sum(len(t.jobs_under(s)) for s in clusters)
        m["dedup.one_task_stages"] = sum(
            1 for s in t.named("dedup.") for j in t.jobs_under(s)
            for st in t.job_stages(j) if st["num_tasks"] == 1)

    for span in t.spans:
        layer = _layer_of(span["name"])
        if layer in LAYERS:
            self_s, wait_s = t.self_and_wait(span)
            m[f"layer.{layer}.self_s"] += self_s
            m[f"layer.{layer}.wait_s"] += wait_s
    return m


def traces(records):
    """RunTrace per traced run, keyed by run index."""
    by = defaultdict(lambda: defaultdict(list))
    for r in records:
        if r["kind"] in ("span", "job", "stage", "count", "cache"):
            by[r["run"]][r["kind"]].append(r)
    out = {}
    for r in records:
        if r["kind"] == "run" and r.get("traced") and not r.get("error") \
                and not r.get("redelivery"):
            k = by[r["run"]]
            out[r["run"]] = RunTrace(r, k["span"], k["job"], k["stage"], k["count"],
                                     sum(c["bytes"] for c in k["cache"]))
    return out


def summarize(workload, records, verdicts, t0_us, trace):
    """The result JSON plus the facts the report lines print."""
    runs = [r for r in records if r["kind"] == "run"]
    timed = [r for r in runs if r["phase"] == "timed"]
    per_run = verdicts["runs"]

    def ok(r):
        return not r.get("error") and per_run.get(r["run"], {}).get("ok", False)

    failed = sum(1 for r in timed if not ok(r))
    correct = all(ok(r) for r in runs) and verdicts["ok"]
    facts = {
        "failed_runs": [r["run"] for r in runs if not ok(r)],
        "problems": verdicts["problems"][:20],
        "wrong_rows": verdicts["wrong_rows"],
        "checked_rows": verdicts["checked_rows"],
        "fail_share": failed / len(timed) if timed else 1.0,
        "runs": len(timed),
    }
    if trace:
        values = per_layer(workload, records, per_run, timed, facts)
        facts["dominant_layer"] = max(LAYERS, key=lambda l: values[f"layer.{l}.self_s"])
    else:
        values = end_to_end(records, per_run, timed, t0_us, facts)
    metrics = {name: {"value": values[name], "unit": UNITS[name]}
               for name, _, _ in (PER_LAYER if trace else END_TO_END)}
    return {"json": {"correct": bool(correct), "attempted": len(timed), "failed": failed,
                     "metrics": metrics},
            "facts": facts}


def end_to_end(records, per_run, timed, t0_us, facts):
    first = next(r for r in records if r["kind"] == "timed_start")
    end = next(r for r in records if r["kind"] == "end")
    durations = [_dur(r) for r in timed]
    tail, pct, beyond = stats.tail(durations)
    facts.update({"tail_percentile": pct, "tail_beyond": beyond})
    if len(durations) >= 2:
        q1, _, q3 = stats.quartiles(durations)
        facts["run_quartiles"] = (q1, q3)
    rows = sum(per_run.get(r["run"], {}).get("rows", 0) for r in timed)
    checked = facts["checked_rows"]
    return {
        "setup_s": (first["start_us"] - t0_us) / 1e6,
        "run_p50_s": stats.median(durations),
        "run_tail_s": tail,
        "rows_per_s": rows / sum(durations),
        "ok_run_share": 1.0 - facts["fail_share"],
        "right_row_share": 1.0 - facts["wrong_rows"] / checked if checked else 0.0,
        "heap_retained_mb": end["heap_used_bytes"] / MB,
    }


EXACT_COUNTS = ("job.spark_jobs", "job.stages", "job.one_task_stages", "dedup.cluster_jobs")


def per_layer(workload, records, per_run, timed, facts):
    ts = traces(records)
    samples = defaultdict(list)
    for i, t in sorted(ts.items()):
        for k, v in layer_values(workload, t, per_run.get(i, {})).items():
            samples[k].append(v)
    facts["per_run_counts"] = {k: [int(v) for v in samples[k]] for k in EXACT_COUNTS}
    values = {name: (stats.median(samples[name]) if samples[name] else 0.0)
              for name, _, _ in PER_LAYER}
    session = next(r for r in records if r["kind"] == "session")
    values["session.start_s"] = _dur(session)
    normal = [r for r in timed if not r.get("redelivery")]
    plain = [_dur(r) for r in normal if not r.get("traced")]
    traced = [_dur(r) for r in normal if r.get("traced")]
    values["trace.overhead_s"] = (stats.median(traced) - stats.median(plain)
                                  if plain and traced else 0.0)
    return values


def report_lines(workload, result):
    """Human-readable lines: every metric by name with its unit, then the
    correctness facts behind `correct`."""
    facts = result["facts"]
    lines = []
    for name, m in result["json"]["metrics"].items():
        extra = ""
        if name == "run_p50_s" and "run_quartiles" in facts:
            extra = "  (q1 {:.6g}, q3 {:.6g} over {} runs)".format(*facts["run_quartiles"], facts["runs"])
        if name == "run_tail_s":
            extra = (f"  (p{facts['tail_percentile']:.0f}: {facts['tail_beyond']} of "
                     f"{facts['runs']} runs beyond)")
        lines.append(f"# {workload} {name} = {m['value']:.6g} {m['unit']}{extra}")
    lines.append(f"# {workload} fail_share = {facts['fail_share']:.6g} ratio "
                 f"({result['json']['failed']} of {result['json']['attempted']} timed runs)")
    lines.append(f"# {workload} wrong_rows = {facts['wrong_rows']} rows "
                 f"(of {facts['checked_rows']} checked)")
    for name, per_run in facts.get("per_run_counts", {}).items():
        lines.append(f"# {workload} {name} per traced run = {per_run}")
    if "dominant_layer" in facts:
        lines.append(f"# {workload} dominant layer (largest self time) = {facts['dominant_layer']}")
    for p in facts["problems"]:
        lines.append(f"# {workload} CHECK FAILED: {p}")
    return lines
