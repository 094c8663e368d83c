"""The ``rdf_etl`` workload: the reference's weekly job, once, cold.

export (paginated scan, parse, cleanup) → transform (enrichment
fetch-join, env-shaped rename and filter) → ``write_turtle`` with
``auto_compact=True``, against the loopback stub.

The traced form calls the functions ``run_export`` composes
(``scan_paginated``, ``triples_only``, ``cleanup.clean``) so that each
stage's output can be materialized with the noop sink under its own job
group; each stage then reports its increment over the one before.
"""

from __future__ import annotations

import functools
import os
from urllib.request import urlopen

from muurschilderingendatabase_etl_spark.rdf import cleanup
from muurschilderingendatabase_etl_spark.rdf.config import (
    get_filter_from_env,
    get_mapping_from_env,
)
from muurschilderingendatabase_etl_spark.rdf.pipeline import run_export, run_transform
from muurschilderingendatabase_etl_spark.rdf.source import (
    fetch_prefix_bindings,
    http_page_fetcher,
    scan_paginated,
)
from muurschilderingendatabase_etl_spark.rdf.turtle import (
    corrupt_records,
    triples_only,
    write_turtle,
)

from perfbench.corpus import ENVIRON
from perfbench.queries import materialize
from perfbench.stub import Stub, fetch_enrichment
from perfbench.trace import Tracer


def _config(base_url: str) -> tuple[dict, dict, list]:
    with urlopen(f"{base_url}api-context", timeout=60) as resp:
        prefixes = fetch_prefix_bindings(resp.read().decode("utf-8"))
    return prefixes, get_mapping_from_env(ENVIRON), get_filter_from_env(ENVIRON)


def run(spark, stub: Stub, out_path: str) -> None:
    """The job as the cron runs it."""
    base = stub.base_url
    prefixes, mapping, filters = _config(base)
    exported = run_export(spark, http_page_fetcher(base))
    transformed = run_transform(
        exported, mapping, filters, functools.partial(fetch_enrichment, base)
    )
    write_turtle(transformed, out_path, prefixes, auto_compact=True)


def run_traced(spark, stub: Stub, out_path: str, tracer: Tracer) -> dict:
    """The same job, stage by stage. Returns the stub counters and the
    row counts taken after the timed stages."""
    sc = spark.sparkContext
    base = stub.base_url
    marks: dict[str, dict] = {}
    with tracer.span("rdf_etl"):
        with tracer.span("rdf.source.config"):
            prefixes, mapping, filters = _config(base)
        with tracer.span("rdf.source.fetch"):
            sc.setJobGroup("rdf.source", "paginated scan")
            parsed = scan_paginated(spark, http_page_fetcher(base))
        marks["source"] = stub.snapshot()
        with tracer.span("rdf.turtle.parse.stage"):
            sc.setJobGroup("rdf.turtle.parse", "parse")
            materialize(triples_only(parsed))
        with tracer.span("rdf.cleanup.stage"):
            sc.setJobGroup("rdf.cleanup", "cleanup")
            cleaned = cleanup.clean(triples_only(parsed))
            materialize(cleaned)
        with tracer.span("rdf.transform.stage"):
            sc.setJobGroup("rdf.transform", "transform")
            transformed = run_transform(
                cleaned, mapping, filters, functools.partial(fetch_enrichment, base)
            )
            materialize(transformed)
        marks["before_write"] = stub.snapshot()
        with tracer.span("rdf.turtle.serialize.stage"):
            sc.setJobGroup("rdf.turtle.serialize", "write_turtle")
            write_turtle(transformed, out_path, prefixes, auto_compact=True)
        marks["after_write"] = stub.snapshot()
    with tracer.span("trace.counts"):
        sc.setJobGroup("trace.counts", "row counts")
        counts = {
            "parsed": triples_only(parsed).count(),
            "corrupt": corrupt_records(parsed).count(),
            "cleaned": cleaned.count(),
        }
    sc.setJobGroup("", "")
    return {"marks": marks, "counts": counts}


def layer_metrics(tracer: Tracer, traced: dict, out_path: str, log) -> dict:
    """``rdf.*`` per-layer metrics of one traced run."""
    marks, counts = traced["marks"], traced["counts"]
    src, w0, w1 = marks["source"], marks["before_write"], marks["after_write"]

    def delta(a: dict, b: dict, table: str, key: str) -> float:
        return b[table].get(key, 0) - a[table].get(key, 0)

    parse = tracer.total("rdf.turtle.parse.stage")
    clean = tracer.total("rdf.cleanup.stage")
    trans = tracer.total("rdf.transform.stage")
    write = tracer.total("rdf.turtle.serialize.stage")
    calls = w1["key_calls"] - w0["key_calls"]
    keys = len([k for k, n in w1["per_key"].items() if n > w0["per_key"].get(k, 0)])
    serialize_spans = tracer.intervals("rdf.turtle.serialize.stage")
    out_bytes = sum(
        os.path.getsize(os.path.join(out_path, f))
        for f in os.listdir(out_path)
        if f.startswith("part-")
    )
    return {
        "rdf.source.pages": src["requests"].get("page", 0),
        "rdf.source.bytes": src["bytes"].get("page", 0),
        "rdf.source.fetch_s": tracer.total("rdf.source.fetch"),
        "rdf.source.wait_s": src["wait_s"].get("page", 0.0),
        "rdf.turtle.parse_s": parse,
        "rdf.turtle.triples_parsed": counts["parsed"],
        "rdf.turtle.corrupt_docs": counts["corrupt"],
        "rdf.cleanup.exec_s": clean - parse,
        "rdf.cleanup.dropped": counts["parsed"] - counts["cleaned"],
        "rdf.transform.exec_s": trans - clean,
        "rdf.transform.enrich_keys": keys,
        "rdf.transform.enrich_calls": calls,
        "rdf.transform.enrich_calls_per_key": calls / keys if keys else 0.0,
        "rdf.transform.enrich_failed": delta(w0, w1, "errors", "enrich"),
        "rdf.transform.enrich_wait_s": delta(w0, w1, "wait_s", "enrich"),
        "rdf.turtle.serialize_s": write - trans,
        "rdf.turtle.serialize_jobs": len(log.jobs_inside(serialize_spans)),
        "rdf.turtle.bytes_out": out_bytes,
    }
