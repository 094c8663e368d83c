#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload rdf_etl --seed 1 --seconds 5 --trace 0

Runs one workload in a fresh process on ``local[nproc]``, checks its
outputs, prints every metric by name with its unit, and ends with one
JSON line: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the run enables Spark's event log and reports the per-layer ones.
Workloads, metrics and the traced form are described in README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("rdf_etl", "control_plane")
WORK = os.path.join(ROOT, ".perfbench_work")
# Byte copies of the read-only sf0.1 tables the control_plane queries
# read (TESTDATA.md), so a run needs nothing outside its checkout.
FIXTURE_DIR = os.path.join(ROOT, "perfbench", "sf0.1")
CHILD_TIMEOUT_S = 170
PAGE_LATENCY_S = 0.020
KEY_LATENCY_S = 0.005


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes") or name.endswith("bytes_out"):
        return "bytes"
    if name in ("spark.core_util", "rdf.transform.enrich_calls_per_key"):
        return "ratio"
    return "count"


def _per_layer_names() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return [m["name"] for m in json.load(fh)["per_layer"]]


def _quantile_tail(values: list[float]) -> tuple[float, int, int] | None:
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, n), or None with fewer than 11 samples."""
    n = len(values)
    if n < 11:
        return None
    ordered = sorted(values)
    idx = n - 11  # ten samples above ordered[idx]
    return ordered[idx], int(100 * (idx + 1) / n), n


def _wait_session_gone(sid: int, deadline: float) -> None:
    """Kill what is left of the child's session and wait for it to end."""
    try:
        os.killpg(sid, signal.SIGKILL)
    except ProcessLookupError:
        return
    while time.time() < deadline:
        alive = False
        for ent in os.listdir("/proc"):
            if ent.isdigit():
                try:
                    with open(f"/proc/{ent}/stat") as fh:
                        fields = fh.read().rsplit(")", 1)[1].split()
                except OSError:
                    continue
                if int(fields[3]) == sid and fields[0] != "Z":
                    alive = True
                    break
        if not alive:
            return
        time.sleep(0.1)


def run_child(cfg: dict) -> dict | None:
    run_dir = cfg["run_dir"]
    for sub in ("tmp", "local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(cfg["cores"]),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData",
    })
    config_path = os.path.join(run_dir, "config.json")
    cfg["spawn_time"] = time.time()
    with open(config_path, "w") as fh:
        json.dump(cfg, fh)
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.workload", config_path],
        cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True,
    )
    deadline = cfg["spawn_time"] + CHILD_TIMEOUT_S
    code = None
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        print(f"perfbench: {cfg['workload']} exceeded {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        # Also on SIGTERM/SIGINT: nothing the run started outlives it.
        _wait_session_gone(proc.pid, time.time() + 8)
        proc.wait()
    if code != 0 or not os.path.exists(cfg["result_path"]):
        print(f"perfbench: workload process failed (exit {code})", file=sys.stderr)
        return None
    with open(cfg["result_path"]) as fh:
        return json.load(fh)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    cores = len(os.sched_getaffinity(0))
    run_dir = os.path.join(WORK, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "cores": cores,
        "run_dir": run_dir,
        "result_path": os.path.join(run_dir, "result.json"),
        "out_path": os.path.join(run_dir, "out.ttl"),
        "eventlog_dir": os.path.join(run_dir, "eventlog"),
        "spans_path": os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
        "page_latency_s": PAGE_LATENCY_S,
        "key_latency_s": KEY_LATENCY_S,
    }
    os.makedirs(os.path.dirname(cfg["spans_path"]), exist_ok=True)
    if args.workload != "rdf_etl":
        cfg["fixture_dir"] = FIXTURE_DIR
    try:
        res = run_child(cfg)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if res is None:
        return 1
    return report(args, cfg, res)


def report(args, cfg: dict, res: dict) -> int:
    out = sys.stdout
    attempted, failed = int(res["attempted"]), int(res["failed"])
    print(f"workload {args.workload} seed {args.seed} cores {cfg['cores']} "
          f"trace {args.trace}", file=out)
    print(f"contention {json.dumps(res['contention'])}", file=out)
    print(f"fail_ratio {failed / attempted:.4f} ratio ({failed} of {attempted})", file=out)
    for key in ("check", "errors", "mismatches", "error"):
        if res.get(key):
            print(f"{key} {json.dumps(res[key])[:2000]}", file=out)
    if "passes" in res:
        print("passes warm-up " + " ".join(f"{x:.4f}" for x in res["warmup_passes"])
              + " timed " + " ".join(f"{x:.4f}" for x in res["passes"]) + " s", file=out)
    if "latencies" in res:
        for name, v in res["latencies"].items():
            print(f"query {name} " + " ".join(f"{x:.4f}" for x in v) + " s", file=out)
        lat = [x for v in res["latencies"].values() for x in v]
        if lat:
            print(f"query_p50_s {statistics.median(lat):.4f} s (n={len(lat)})", file=out)
        tail = _quantile_tail(lat)
        if tail is None:
            print(f"query_tail_s absent: {len(lat)} queries, a tail needs 11", file=out)
        else:
            print(f"query_tail_s {tail[0]:.4f} s (p{tail[1]}, n={tail[2]})", file=out)
    # Printed, not gated: the JVM grows its heap lazily, so the peak
    # spreads about 20% between runs of the same code.
    print(f"peak_rss_mb {res['peak_rss_mb']:.1f} MB", file=out)

    history = os.path.join(WORK, "untraced", f"{args.workload}.json")
    walls: list[float] = []
    if os.path.exists(history):
        with open(history) as fh:
            walls = json.load(fh)
    if args.trace:
        layers = res["layers"]
        if walls:
            overhead = layers["trace.wall_s"] - statistics.median(walls)
            print(f"trace.overhead_s {overhead:.4f} s "
                  f"(traced wall_s minus the median of {len(walls)} untraced runs "
                  "in this checkout)", file=out)
        else:
            print("trace.overhead_s absent: no untraced run of this workload in "
                  "this checkout yet", file=out)
        # Every folded metric is printed; the JSON carries the ones named in
        # BENCHMARK.json. A time of a layer a workload does not exercise
        # reads 0 on every run, so only times measured on both are named.
        for name, value in layers.items():
            print(f"{name} {value} {_layer_unit(name)}", file=out)
        metrics = {}
        for name in _per_layer_names():
            if name in layers:
                metrics[name] = {"value": layers[name], "unit": _layer_unit(name)}
            else:
                print(f"{name} absent: not produced by this run", file=out)
    else:
        os.makedirs(os.path.dirname(history), exist_ok=True)
        with open(history, "w") as fh:
            json.dump((walls + [res["wall_s"]])[-20:], fh)
        metrics = {
            "setup_s": {"value": res["setup"]["setup_s"], "unit": "s"},
            "wall_s": {"value": res["wall_s"], "unit": "s"},
            "cpu_s": {"value": res["cpu_s"], "unit": "s"},
        }
        for name, m in metrics.items():
            print(f"{name} {m['value']} {m['unit']}", file=out)
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
