#!/usr/bin/env python3
"""Record the result fingerprints the query workloads check against.

    PYTHONPATH=. python3 perfbench/record_fingerprints.py

Run it at a commit whose query outputs are known good (oracle parity on
the sf0.1 fixture via ``scripts/driver_mimic.py``); it reads the copy of
that fixture in ``perfbench/sf0.1`` and rewrites
``perfbench/fingerprints.json``.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from muurschilderingendatabase_etl_spark import registry  # noqa: E402
from muurschilderingendatabase_etl_spark.session import get_spark  # noqa: E402

from perfbench.queries import CONTROL_PLANE_QUERIES, fingerprint  # noqa: E402


def main() -> None:
    sf = os.path.join(ROOT, "perfbench", "sf0.1")
    spark = get_spark(app_name="perfbench-fingerprints")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    out = {}
    for name in CONTROL_PLANE_QUERIES:
        out[name] = fingerprint(queries[name](spark, sf))
        print(name, out[name], flush=True)
    spark.stop()
    with open(os.path.join(ROOT, "perfbench", "fingerprints.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
