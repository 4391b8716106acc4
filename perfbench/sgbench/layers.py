"""Layer -> metric -> workload map, and the per-layer rollup of a traced run.

Every per-layer metric is per traced pass (a total over the pass divided
by the number of traced passes) unless its definition says median.
Layers a workload bypasses read zero there; that is the prediction.
"""

from __future__ import annotations

import importlib
import statistics
from collections import defaultdict

from .eventlog import Job, union_s
from .spans import Span, span_of_group

OPERATOR_MODULES = ("cleaning", "relational", "text", "dedup", "corpus", "similarity", "sketch")

# layer -> its metrics; README.md maps each to the end-to-end metric it
# should move and the workload where that shows
LAYERS = (
    ("session", ("session.start_s",)),
    ("queries", ("queries.build_s", "queries.eager_jobs", "action.execute_s")),
    ("catalog, sources", ("catalog.load_s", "sources.read_s", "sources.files_read",
                          "sources.bytes_read", "sources.rows_read")),
    ("streaming.runner", ("runner.batches", "runner.batch_s", "runner.batch_overhead_s",
                          "runner.jobs_per_batch", "runner.archive_s")),
    ("pipelines, sinks.serde", ("serde.write_s", "serde.files_written", "serde.bytes_written",
                                "pipelines.reread_ratio")),
    ("sinks.maintenance, sources.tabular", ("maintenance.compact_s", "maintenance.files_in",
                                            "maintenance.files_out",
                                            "tabular.quarantined_rows")),
    *((f"operators.{m}", (f"{m}.calls", f"{m}.self_s") + ((f"{m}.jobs",) if i > 1 else ()))
      for i, m in enumerate(OPERATOR_MODULES)),
    ("Python boundary", ("python.worker_s", "python.bytes_out", "python.bytes_in")),
    ("Spark execution", ("spark.jobs", "spark.stages", "spark.tasks", "spark.exec_cpu_s",
                         "spark.exec_run_s", "spark.shuffle_bytes", "spark.result_bytes",
                         "spark.failed_tasks", "driver.gap_s")),
    ("tracing", ("trace.overhead",)),
)


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("ratio") or name == "trace.overhead":
        return "ratio"
    return "count"


PER_LAYER = tuple(
    {"name": m, "unit": _unit(m), "better": "lower"}
    for _, metrics in LAYERS for m in metrics
)

# modules whose public functions the traced run wraps, by layer name
TRACED_MODULES = {
    "catalog": "datapipelineetl_spark.catalog",
    "sources": ("datapipelineetl_spark.sources.tabular",
                "datapipelineetl_spark.sources.meascollec"),
    "runner": "datapipelineetl_spark.streaming.runner",
    "pipelines": "datapipelineetl_spark.pipelines",
    "serde": "datapipelineetl_spark.sinks.serde",
    "maintenance": "datapipelineetl_spark.sinks.maintenance",
    **{m: f"datapipelineetl_spark.operators.{m}" for m in OPERATOR_MODULES},
}


def patch_all(tracer) -> None:
    """Wrap the public functions of every traced module, plus
    ``pipelines._sink`` (its re-count scan is ``pipelines.reread_ratio``)."""
    for layer, mods in TRACED_MODULES.items():
        for name in (mods,) if isinstance(mods, str) else mods:
            tracer.patch(importlib.import_module(name), layer)
    tracer.patch_function(importlib.import_module(TRACED_MODULES["pipelines"]), "_sink",
                          "pipelines")


def _self_times(spans: list[Span]) -> dict[int, float]:
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return {
        s.span_id: (s.end - s.start)
        - union_s([(max(k.start, s.start), min(k.end, s.end)) for k in kids[s.span_id]])
        for s in spans
    }


def rollup(spans: list[Span], jobs: list[Job], passes: list, progress: list[dict],
           session_start_s: float, overhead: float, extra: dict) -> dict[str, float]:
    """Per-layer metrics of the traced passes (``passes`` holds their
    ``PassResult``s; ``progress`` their streaming progress events)."""
    n = max(len(passes), 1)
    out = {m["name"]: 0.0 for m in PER_LAYER}
    out["session.start_s"] = session_start_s
    out["trace.overhead"] = overhead

    by_id = {s.span_id: s for s in spans}
    self_s = _self_times(spans)
    windows = [(p.start, p.end) for p in passes]
    traced = [j for j in jobs if any(a <= j.submit_s <= b for a, b in windows)]

    def ancestors(span_id):
        while span_id is not None:
            yield by_id[span_id]
            span_id = by_id[span_id].parent

    def owner(job: Job) -> Span | None:
        sid = span_of_group(job.group)
        if sid in by_id:
            return by_id[sid]
        # unattributed: the op (root span) whose window holds the job
        return next((s for s in spans if s.parent is None
                     and s.start <= job.submit_s <= s.end), None)

    job_owner = {j.job_id: owner(j) for j in traced}

    for s in spans:
        dur = s.end - s.start
        if s.layer in OPERATOR_MODULES:
            out[f"{s.layer}.calls"] += 1
            out[f"{s.layer}.self_s"] += self_s[s.span_id]
        elif s.name == "queries.build":
            out["queries.build_s"] += dur
        elif s.name == "action.execute":
            out["action.execute_s"] += dur
        elif s.layer == "catalog":
            out["catalog.load_s"] += self_s[s.span_id]
        elif s.name == "runner.archive_committed_sources":
            out["runner.archive_s"] += dur
        elif s.layer == "maintenance" and s.name.endswith(".compact"):
            out["maintenance.compact_s"] += dur
        if s.layer == "serde" and not (s.parent and by_id[s.parent].layer == "serde"):
            out["serde.write_s"] += dur

    reread_bytes = written_bytes = 0.0
    for job in traced:
        m = job.metrics
        for key, value in m.items():
            if key.startswith(("spark.", "python.", "sources.")):
                out[key] += value
        span = job_owner[job.job_id]
        chain = list(ancestors(span.span_id)) if span else []
        if span is not None and span.layer in OPERATOR_MODULES:
            out[f"{span.layer}.jobs"] += 1
        if any(a.name == "queries.build" for a in chain):
            out["queries.eager_jobs"] += 1
        if any(a.layer == "serde" for a in chain):
            out["serde.files_written"] += m.get("serde.files_written", 0.0)
            out["serde.bytes_written"] += m.get("serde.bytes_written", 0.0)
        if any(a.name == "pipelines._sink" for a in chain):
            if span.name == "pipelines._sink":
                reread_bytes += m.get("sources.bytes_read", 0.0)
            else:
                written_bytes += m.get("serde.bytes_written", 0.0)

    # driver gap: each op's wall time minus the union of its jobs' intervals
    op_jobs: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for job in traced:
        span = job_owner[job.job_id]
        if span is not None:
            root = by_id[span.op]
            op_jobs[root.span_id].append((max(job.submit_s, root.start),
                                          min(job.end_s or root.end, root.end)))
    for s in spans:
        if s.parent is None:
            out["driver.gap_s"] += (s.end - s.start) - union_s(op_jobs[s.span_id])

    batches = [e for e in progress if e.get("numInputRows", 0) > 0]
    if batches:
        trig = [e["durationMs"]["triggerExecution"] / 1000.0 for e in batches]
        over = [(e["durationMs"]["triggerExecution"] - e["durationMs"].get("addBatch", 0))
                / 1000.0 for e in batches]
        out["runner.batch_s"] = statistics.median(trig)
        out["runner.batch_overhead_s"] = statistics.median(over)
        batch_jobs = sum(1 for j in traced if j.batch is not None)
        out["runner.jobs_per_batch"] = batch_jobs / len(batches)
        out["runner.batches"] = float(len(batches))
    out["pipelines.reread_ratio"] = reread_bytes / written_bytes if written_bytes else 0.0
    out["maintenance.files_in"] = float(extra.get("files_in", 0))
    out["maintenance.files_out"] = float(extra.get("files_out", 0))
    out["tabular.quarantined_rows"] = float(extra.get("quarantined_rows", 0))

    per_pass_exempt = {"session.start_s", "trace.overhead", "runner.batch_s",
                       "runner.batch_overhead_s", "runner.jobs_per_batch",
                       "pipelines.reread_ratio"}
    return {k: (v if k in per_pass_exempt else v / n) for k, v in out.items()}
