#!/usr/bin/env python3
"""Regenerate ``pins.json``, the outputs the benchmark checks against.

    python3 perfbench/pin.py schemas     # every builder's schema at sf0.001
    python3 perfbench/pin.py rows-only   # rows-only headline digests at sf0.1
    python3 perfbench/pin.py rows-only-sf1  # the same at sf1, and sf1's digest

Pins are taken from the program at the commit that defines the benchmark;
re-pinning is a change to the benchmark, not to the program. ``schemas``
also prints each builder's wall time and job count (JSON on stdout), the
numbers the catalog sample in ``pins.json`` was chosen from.
"""

from __future__ import annotations

import json
import os
import sys
import time

import run as R
import spark_side as S

import bench_lib as B


def main() -> int:
    what = sys.argv[1]
    sys.path.insert(0, R.ROOT)
    path = os.path.join(R.HERE, "pins.json")
    pins = json.load(open(path)) if os.path.exists(path) else {}
    S.configure_env(R.ROOT, R.WORK, R.cpus())
    spark, _ = S.start_session()
    try:
        from gasket_rs_spark import registry

        queries, _ = registry.collect_raw()
        if what == "schemas":
            reader = S.JobReader(spark)
            sf_dir = os.path.join(R.DATA, "sf0.001")
            schemas, cost = {}, {}
            for q in sorted(queries):
                gid = reader.group()
                t0 = time.perf_counter()
                schemas[q] = queries[q](spark, sf_dir).schema.simpleString()
                cost[q] = {
                    "s": time.perf_counter() - t0,
                    "jobs": reader.read(gid)["jobs"],
                    "module": B.short_module(queries[q].__module__),
                }
            pins["schemas"] = schemas
            print(json.dumps(cost))
        elif what in ("rows-only", "rows-only-sf1"):
            if what == "rows-only":
                sf, sf_dir = "sf0.1", os.path.join(R.DATA, "sf0.1")
            else:
                sf = "sf1"
                sf_dir, pins["sf1_digest"] = R.prepare_sf1(None)
            pins[f"rows_only_{sf}"] = {
                q: list(S.spark_digest(queries[q](spark, sf_dir))) for q in B.ROWS_ONLY
            }
        else:
            raise SystemExit(f"unknown pin set {what!r}")
    finally:
        S.stop_session(spark)
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
