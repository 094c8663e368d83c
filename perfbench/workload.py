"""One benchmark run in a fresh process: ``python -m perfbench.workload
<config.json>``. ``run.py`` starts it and reads the result file it
writes; see README.md for the metrics.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import sys
import time

# control_plane: untimed passes before the timed ones, and the fewest
# timed passes whose median is reported.
WARMUP_PASSES = 2
MIN_TIMED_PASSES = 3


def _setup(cfg: dict):
    """Session start-up plus the fixed warm-up query. Corpus generation
    happens outside this interval."""
    from muurschilderingendatabase_etl_spark.session import get_spark

    extra = None
    if cfg["trace"]:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + cfg["eventlog_dir"],
            "spark.eventLog.compress": "false",
        }
    t0 = time.time()
    spark = get_spark(app_name=f"perfbench-{cfg['workload']}", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    t2 = time.time()
    return spark, {
        "setup_s": t2 - cfg["spawn_time"],
        "session.start_s": t1 - t0,
        "session.warmup_s": t2 - t1,
    }


def _run_etl(spark, cfg: dict, tracer, out: dict) -> None:
    from perfbench import check, corpus, etl, procstat, stub

    c = corpus.generate(cfg["seed"])
    out_path = cfg["out_path"]
    me = os.getpid()
    with stub.Stub(c, cfg["page_latency_s"], cfg["key_latency_s"], cfg["cores"]) as st:
        contention = procstat.Contention(me)
        cpu0 = procstat.tree_cpu_s(me)
        t0 = time.time()
        try:
            if tracer is None:
                etl.run(spark, st, out_path)
            else:
                out["traced"] = etl.run_traced(spark, st, out_path, tracer)
        except Exception as exc:  # a pipeline that raised counts as fail_ratio 1.0
            out["error"] = repr(exc)[:500]
        t1 = time.time()
        out["cpu_s"] = procstat.tree_cpu_s(me) - cpu0
        out["peak_rss_mb"] = procstat.tree_peak_rss_mb(me)
        out["contention"] = contention.read(t1 - t0)
    out["wall_s"] = t1 - t0
    out["corpus"] = c.summary()
    if "error" in out:
        out.update(attempted=1, failed=1, correct=False)
        return
    result = check.check_written(c, out_path)
    out["check"] = result
    out.update(
        attempted=result["attempted"], failed=result["failed"], correct=result["correct"]
    )


def _run_queries(spark, cfg: dict, tracer, out: dict) -> None:
    from muurschilderingendatabase_etl_spark import registry
    from perfbench import procstat
    from perfbench.queries import CONTROL_PLANE_QUERIES, fingerprint, materialize

    with open(os.path.join(os.path.dirname(__file__), "fingerprints.json")) as fh:
        expected = json.load(fh)
    queries = registry.all_queries()
    names = list(CONTROL_PLANE_QUERIES)
    random.Random(cfg["seed"]).shuffle(names)
    sc = spark.sparkContext
    sf = cfg["fixture_dir"]
    me = os.getpid()

    mismatches: dict[str, dict] = {}
    errors: dict[str, str] = {}

    def run_pass(tracer, check: bool) -> tuple[float, float, dict[str, float]]:
        """One pass over the queries: (seconds in the calls, CPU seconds
        of the process tree, latency per query)."""
        lat: dict[str, float] = {}
        cpu_s = 0.0
        for name in names:
            cpu0 = procstat.tree_cpu_s(me)
            t0 = time.time()
            try:
                if tracer is None:
                    df = queries[name](spark, sf)
                    materialize(df)
                else:
                    with tracer.span("query", query=name):
                        sc.setJobGroup(f"{name}:build", name)
                        with tracer.span("queries.build", query=name):
                            df = queries[name](spark, sf)
                        sc.setJobGroup(f"{name}:exec", name)
                        with tracer.span("queries.exec", query=name):
                            materialize(df)
            except Exception as exc:
                errors[name] = repr(exc)[:300]
                continue
            finally:
                dt = time.time() - t0
                cpu_s += procstat.tree_cpu_s(me) - cpu0
            lat[name] = dt
            if check:
                # Output check, outside the timed region.
                got = fingerprint(df)
                if got != expected.get(name):
                    mismatches[name] = {"got": got, "expected": expected.get(name)}
        return sum(lat.values()), cpu_s, lat

    # Untimed warm-up passes: the first execution of each query pays JVM
    # class loading, JIT compilation and Python DataSource worker
    # start-up, one-off costs about four times a warm pass. The first
    # pass also carries the output check.
    warmup = [run_pass(None, check=(i == 0))[0] for i in range(WARMUP_PASSES)]

    latencies: dict[str, list[float]] = {n: [] for n in names}
    passes: list[float] = []
    cpus: list[float] = []
    contention = procstat.Contention(me)
    t_start = time.time()
    while True:
        wall, cpu_s, lat = run_pass(tracer, check=False)
        passes.append(wall)
        cpus.append(cpu_s)
        for name, dt in lat.items():
            latencies[name].append(dt)
        # A traced run traces exactly one pass, so its counts repeat.
        if tracer is not None or errors:
            break
        if len(passes) >= MIN_TIMED_PASSES and sum(passes) >= cfg["seconds"]:
            break
    sc.setJobGroup("", "")
    t_end = time.time()
    out["contention"] = contention.read(t_end - t_start)
    out["cpu_s"] = statistics.median(cpus)
    out["peak_rss_mb"] = procstat.tree_peak_rss_mb(me)
    out["warmup_passes"] = warmup
    out["passes"] = passes
    out["wall_s"] = statistics.median(passes)
    out["latencies"] = latencies
    out["errors"] = errors
    out["mismatches"] = mismatches
    failed = set(errors) | set(mismatches)
    out.update(attempted=len(names), failed=len(failed), correct=not failed)


def main(config_path: str) -> int:
    with open(config_path) as fh:
        cfg = json.load(fh)
    from perfbench.trace import Tracer

    spark, setup = _setup(cfg)
    out: dict = {"setup": setup}
    tracer = Tracer(f"{cfg['workload']}-seed{cfg['seed']}") if cfg["trace"] else None
    try:
        if cfg["workload"] == "rdf_etl":
            _run_etl(spark, cfg, tracer, out)
        else:
            _run_queries(spark, cfg, tracer, out)
    finally:
        spark.stop()
    if tracer is not None:
        from perfbench.layers import fold

        out["layers"] = fold(cfg, out, tracer)
        tracer.write(cfg["spans_path"])
    with open(cfg["result_path"], "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
