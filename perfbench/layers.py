"""Fold one traced run into the named per-layer metrics.

Every metric named in BENCHMARK.json's ``per_layer`` list is present in
every traced run. A layer a workload does not exercise reads 0 (for
example ``streaming.*`` on ``rdf_etl``); the README lists which layer
each workload exercises.
"""

from __future__ import annotations

import glob
import os

from perfbench import etl
from perfbench.trace import EventLog, Tracer, streaming_metrics

QUERY_METRICS = ("queries.build_s", "queries.build_jobs", "queries.plan_s", "queries.exec_s")
RDF_METRICS = (
    "rdf.source.pages", "rdf.source.bytes", "rdf.source.fetch_s", "rdf.source.wait_s",
    "rdf.turtle.parse_s", "rdf.turtle.triples_parsed", "rdf.turtle.corrupt_docs",
    "rdf.cleanup.exec_s", "rdf.cleanup.dropped",
    "rdf.transform.exec_s", "rdf.transform.enrich_keys", "rdf.transform.enrich_calls",
    "rdf.transform.enrich_calls_per_key", "rdf.transform.enrich_failed",
    "rdf.transform.enrich_wait_s",
    "rdf.turtle.serialize_s", "rdf.turtle.serialize_jobs", "rdf.turtle.bytes_out",
)

# Top-level spans of a traced run whose durations must add up to its
# wall time; each is one layer's self time, or (``trace.*``) work the
# traced form adds.
SELF_TIME_SPANS = {
    "rdf_etl": (
        "rdf.source.config", "rdf.source.fetch", "rdf.turtle.parse.stage",
        "rdf.cleanup.stage", "rdf.transform.stage", "rdf.turtle.serialize.stage",
    ),
    "queries": ("queries.build", "queries.exec"),
}
# The rdf_etl spans that do what the cron job does. The parse, cleanup
# and transform stages are the traced form's own noop materializations,
# each of which runs the upstream plan again, so spark.* leaves them out.
ETL_JOB_SPANS = ("rdf.source.config", "rdf.source.fetch", "rdf.turtle.serialize.stage")


def _event_log(cfg: dict) -> EventLog:
    """Spark 4 writes one application's log as a directory of numbered
    parts."""
    apps = glob.glob(os.path.join(cfg["eventlog_dir"], "*"))
    if len(apps) != 1:
        raise RuntimeError(f"expected one application's event log, found {apps}")
    parts = glob.glob(os.path.join(apps[0], "events_*"))
    parts.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    return EventLog.read(parts)


def plan_s(log: EventLog, exec_spans: list[tuple[float, float]]) -> float:
    """Driver time in each exec call before its first Spark job starts:
    analysis, optimization and physical planning of the write. A call
    that starts no job is planning throughout."""
    total = 0.0
    for a, b in exec_spans:
        starts = [j["start"] for j in log.jobs_inside([(a, b)])]
        total += max(0.0, (min(starts) if starts else b) - a)
    return total


def fold(cfg: dict, out: dict, tracer: Tracer) -> dict:
    log = _event_log(cfg)
    m: dict[str, float] = {
        "session.start_s": out["setup"]["session.start_s"],
        "session.warmup_s": out["setup"]["session.warmup_s"],
    }
    m.update({k: 0 for k in QUERY_METRICS + RDF_METRICS})
    if cfg["workload"] == "rdf_etl":
        intervals = tracer.intervals("rdf_etl")
        job = [iv for name in ETL_JOB_SPANS for iv in tracer.intervals(name)]
        if "traced" in out:
            m.update(etl.layer_metrics(tracer, out["traced"], cfg["out_path"], log))
        spans = SELF_TIME_SPANS["rdf_etl"]
    else:
        intervals = job = tracer.intervals("query")
        build = tracer.intervals("queries.build")
        plan = plan_s(log, tracer.intervals("queries.exec"))
        m.update({
            "queries.build_s": tracer.total("queries.build"),
            "queries.build_jobs": len(log.jobs_inside(build)),
            "queries.plan_s": plan,
            "queries.exec_s": tracer.total("queries.exec") - plan,
        })
        spans = SELF_TIME_SPANS["queries"]
    m.update(log.spark_metrics(job, cfg["cores"]))
    m.update(streaming_metrics(log.progress_inside(job)))
    wall = sum(b - a for a, b in intervals)
    m["trace.wall_s"] = wall
    m["trace.unattributed_s"] = wall - sum(tracer.total(n) for n in spans)
    return m
