"""The benchmark's own tests; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import urllib.error
import urllib.request

import pytest

from perfbench import check, corpus, etl, layers, run
from perfbench.stub import Stub, fetch_enrichment
from perfbench.trace import EventLog, Span, Tracer, streaming_metrics

SELF_TIME_SPANS_ETL = layers.SELF_TIME_SPANS["rdf_etl"]

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- corpus ---------------------------------------------------------------


def test_corpus_is_deterministic_per_seed():
    a, b, c = corpus.generate(7), corpus.generate(7), corpus.generate(8)
    assert a.pages == b.pages
    assert a.enrichment == b.enrichment
    assert a.expected() == b.expected()
    assert a.context_body == b.context_body
    assert a.pages != c.pages


def test_corpus_plants_fixed_amounts_of_each_defect():
    for seed in (1, 2, 3):
        c = corpus.generate(seed)
        assert len(c.pages) == corpus.PAGES
        assert len(c.malformed) == corpus.MALFORMED_PAGES
        assert 1 not in c.malformed  # page 1 defines the customvocab terms
        assert len(c.failing_keys) == round(len(c.enrichment) * corpus.FAILING_KEY_SHARE)
        assert set(c.expected_by_page) == set(range(1, corpus.PAGES + 1)) - c.malformed
        text = "".join(c.pages)
        assert "@context" in text and "customvocab" in text and "<bron-" in text


# -- output check ---------------------------------------------------------


def _writer_lines(triples, prefixes) -> list[str]:
    """Statement-per-line Turtle in the shape write_turtle emits."""

    def iri(x):
        for p, ns in prefixes.items():
            if x.startswith(ns) and re.fullmatch(r"[A-Za-z0-9_.-]*", x[len(ns):]):
                return f"{p}:{x[len(ns):]}"
        return f"<{x}>"

    out = [f"@prefix {p}: <{ns}> ." for p, ns in sorted(prefixes.items())]
    for s, p, o, kind, lang, dt in sorted(triples, key=lambda t: (t[0], t[1], t[2])):
        if kind == "iri":
            obj = iri(o)
        else:
            esc = (o.replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")
                   .replace("\r", "\\r").replace("\t", "\\t"))
            obj = f'"{esc}"' + (f"@{lang}" if lang else f"^^{iri(dt)}" if dt else "")
        out.append(f"{iri(s)} {iri(p)} {obj} .")
    return out


def test_check_reads_back_writer_output(tmp_path):
    c = corpus.generate(3, pages=6, per_page=10)
    expected = sorted(c.expected())
    (tmp_path / "part-00000").write_text("\n".join(_writer_lines(expected, c.prefixes)) + "\n")
    got = check.read_turtle_lines(str(tmp_path))
    assert sorted(got) == expected
    assert check.check_output(c, got)["correct"]


def test_check_counts_missing_and_unexpected_triples():
    c = corpus.generate(3, pages=6, per_page=10)
    got = sorted(c.expected())
    page = next(iter(c.expected_by_page))
    dropped = next(iter(c.expected_by_page[page]))
    got.remove(dropped)
    got.append(("urn:x", "urn:p", "planted garbage", "literal", None, None))
    res = check.check_output(c, got)
    assert res["failed"] == 1 and res["missing_pages"] == [page]
    assert res["unexpected"] == 1 and not res["correct"]


def test_check_rejects_a_line_that_is_not_a_triple(tmp_path):
    (tmp_path / "part-00000").write_text("<urn:a> <urn:b> .\n")
    with pytest.raises(ValueError):
        check.read_turtle_lines(str(tmp_path))
    c = corpus.generate(3, pages=6, per_page=10)
    res = check.check_written(c, str(tmp_path))
    assert res["failed"] == res["attempted"] > 0 and not res["correct"]


# -- stub -----------------------------------------------------------------


def test_stub_serves_pages_context_and_enrichment_and_counts_them():
    c = corpus.generate(5, pages=10, per_page=20)
    with Stub(c, page_latency_s=0.001, key_latency_s=0.001, max_connections=2) as st:
        base = st.base_url
        with urllib.request.urlopen(f"{base}api/items?format=turtle&page=2&per_page=100") as r:
            assert r.read().decode() == c.pages[1]
        with urllib.request.urlopen(f"{base}api/items?format=turtle&page=11&per_page=100") as r:
            assert r.read() == b""
        with urllib.request.urlopen(f"{base}api-context") as r:
            assert json.loads(r.read())["@context"]
        healthy = c.healthy_keys[0]
        assert fetch_enrichment(base, healthy) == c.enrichment[healthy]
        if c.failing_keys:
            with pytest.raises(urllib.error.HTTPError):
                fetch_enrichment(base, c.failing_keys[0])
        snap = st.snapshot()
    assert snap["requests"]["page"] == 2
    assert snap["requests"]["context"] == 1
    assert snap["per_key"][healthy] == 1
    assert 0.002 <= snap["wait_s"]["page"] < 0.5


# -- event-log folding ----------------------------------------------------


def _write_log(path) -> None:
    t = 1_000_000.0  # epoch seconds
    ms = lambda s: int((t + s) * 1000)  # noqa: E731
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": ms(1),
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "q:exec"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Number of Tasks": 2}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Number of Tasks": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 1000, "Executor CPU Time": 5e8, "JVM GC Time": 100,
                          "Input Metrics": {"Bytes Read": 10},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": True},
         "Task Metrics": {"Executor Run Time": 1000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Failed": False},
         "Task Metrics": {"Executor Run Time": 2000, "Output Metrics": {"Bytes Written": 3}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": ms(3)},
        # Outside the timed interval: must not count.
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": ms(20),
         "Stage IDs": [2]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": ms(21)},
        {"Event": "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
         "progress": {"timestamp": "1970-01-12T13:46:42.000Z", "sources": [{"numInputRows": 5}],
                      "durationMs": {"triggerExecution": 300, "addBatch": 200, "walCommit": 50}}},
    ]
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_folds_into_spark_and_streaming_metrics(tmp_path):
    log_path = tmp_path / "events_1_app"
    _write_log(log_path)
    log = EventLog.read([str(log_path)])
    t = 1_000_000.0
    m = log.spark_metrics([(t, t + 5)], cores=2)
    assert m["spark.jobs"] == 1
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 3
    assert m["spark.single_task_stages"] == 1
    assert m["spark.failed_tasks"] == 1
    assert m["spark.job_active_s"] == pytest.approx(2.0)
    assert m["spark.out_of_job_s"] == pytest.approx(3.0)
    assert m["spark.exec_run_s"] == pytest.approx(4.0)
    assert m["spark.exec_cpu_s"] == pytest.approx(0.5)
    assert m["spark.core_util"] == pytest.approx(4.0 / (2.0 * 2))
    assert m["spark.gc_s"] == pytest.approx(0.1)
    assert (m["spark.input_bytes"], m["spark.output_bytes"]) == (10, 3)
    assert (m["spark.shuffle_write_bytes"], m["spark.spill_bytes"]) == (7, 3)
    s = streaming_metrics(log.progress_inside([(t, t + 5)]))
    assert s["streaming.batches"] == 1 and s["streaming.input_rows"] == 5
    assert s["streaming.add_batch_s"] == pytest.approx(0.2)
    assert streaming_metrics(log.progress_inside([(t + 10, t + 11)]))["streaming.batches"] == 0


def _traced_log_dir(tmp_path) -> str:
    (tmp_path / "eventlog" / "eventlog_v2_app").mkdir(parents=True)
    _write_log(tmp_path / "eventlog" / "eventlog_v2_app" / "events_1_app")
    return str(tmp_path / "eventlog")


def test_plan_time_is_the_exec_call_before_its_first_job(tmp_path):
    _write_log(tmp_path / "events_1_app")
    log = EventLog.read([str(tmp_path / "events_1_app")])
    t = 1_000_000.0
    assert layers.plan_s(log, [(t, t + 5)]) == pytest.approx(1.0)
    assert layers.plan_s(log, [(t + 6, t + 8)]) == pytest.approx(2.0)  # no job


def test_etl_spark_metrics_leave_out_the_stage_materializations(tmp_path):
    t = 1_000_000.0
    tracer = Tracer("t")
    tracer.spans = [
        Span("rdf_etl", t - 1, t + 30),
        Span("rdf.turtle.parse.stage", t - 1, t + 5),  # holds job 0
        Span("rdf.turtle.serialize.stage", t + 19, t + 22),  # holds job 1
    ]
    cfg = {"workload": "rdf_etl", "eventlog_dir": _traced_log_dir(tmp_path), "cores": 4}
    out = {"setup": {"session.start_s": 1.0, "session.warmup_s": 2.0}}
    m = layers.fold(cfg, out, tracer)
    assert m["spark.jobs"] == 1 and m["spark.tasks"] == 0
    assert m["spark.job_active_s"] == pytest.approx(1.0)
    assert m["trace.wall_s"] == pytest.approx(31.0)


def test_a_traced_run_produces_every_per_layer_metric(tmp_path):
    """And the per-layer times named in BENCHMARK.json are ones both
    workloads exercise (the others read 0 on one of them)."""
    tracer = Tracer("t")
    cfg = {"workload": "control_plane", "eventlog_dir": _traced_log_dir(tmp_path), "cores": 4}
    out = {"setup": {"session.start_s": 1.0, "session.warmup_s": 2.0}}
    metrics = layers.fold(cfg, out, tracer)
    named = [m["name"] for m in _bench()["per_layer"]]
    assert set(named) <= set(metrics)
    for name in metrics:
        assert NAME.fullmatch(name), name
    zero_on_one = set(layers.RDF_METRICS) | set(layers.QUERY_METRICS) | {
        n for n in metrics if n.startswith("streaming.")}
    assert not {n for n in named if run._layer_unit(n) == "s"} & zero_on_one


def test_rdf_layer_metrics_are_the_named_ones(tmp_path):
    tracer = Tracer("t")
    for name in SELF_TIME_SPANS_ETL:
        with tracer.span(name):
            pass
    snap = {"requests": {"page": 3}, "bytes": {"page": 9}, "wait_s": {"page": 0.1},
            "errors": {}, "per_key": {"1": 2, "2": 2}, "key_calls": 4}
    traced = {"marks": {"source": snap, "before_write": {**snap, "per_key": {}, "key_calls": 0},
                        "after_write": snap},
              "counts": {"parsed": 10, "corrupt": 1, "cleaned": 8}}
    (tmp_path / "part-00000").write_text("x")
    m = etl.layer_metrics(tracer, traced, str(tmp_path), EventLog())
    assert set(m) == set(layers.RDF_METRICS)
    assert m["rdf.transform.enrich_calls_per_key"] == 2.0
    assert m["rdf.cleanup.dropped"] == 2 and m["rdf.turtle.bytes_out"] == 1


# -- fixture ---------------------------------------------------------------

FIXTURE_SHA256 = {
    "events.parquet": "1d18f4489b6c943be2ec8514f0e368199076bbd68d3daf19feef863960f2afe2",
    "supplier.parquet": "ab1a9344d47e65970205ac2b723c4dc9ec1be0e776b809422e41edc7e9498d8a",
}


def test_fixture_copies_are_the_sf01_tables():
    """The copies in sf0.1/ are the read-only sf0.1 fixture's files,
    byte for byte, and nothing else is there."""
    assert sorted(os.listdir(run.FIXTURE_DIR)) == sorted(FIXTURE_SHA256)
    for name, digest in FIXTURE_SHA256.items():
        with open(os.path.join(run.FIXTURE_DIR, name), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == digest


# -- BENCHMARK.json and the printed result --------------------------------


def test_benchmark_json_follows_the_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in b["workloads"]} == set(run.WORKLOADS)
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]]
    assert len(names) == len(set(names))
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
        assert m["unit"] == "s" and m["better"] == "lower"
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and NAME.fullmatch(m["name"])
        assert m["unit"] == run._layer_unit(m["name"])


def test_tail_is_the_highest_percentile_with_ten_samples_beyond_it():
    assert run._quantile_tail([1.0] * 10) is None
    value, pct, n = run._quantile_tail([float(i) for i in range(40)])
    assert value == 29.0 and n == 40 and sum(1 for i in range(40) if i > value) == 10
