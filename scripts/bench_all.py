#!/usr/bin/env python
"""Breadth sweep: run EVERY registered query once (noop sink) and print
per-query wall plus the total — the whole-surface cost, not just the 46
headline queries bench.py times. Usage:

    python scripts/bench_all.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import uforwarder_spark  # noqa: F401,E402
from uforwarder_spark.registry import QUERIES  # noqa: E402
from uforwarder_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"
    )
    spark = get_spark("bench-all")
    # warm the JVM + parquet footers once
    QUERIES["tpch_q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    timings: dict[str, float] = {}
    for name in sorted(QUERIES):
        spark.catalog.clearCache()
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        timings[name] = round(time.time() - t0, 3)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "all_queries_total_wall",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "slowest": dict(sorted(timings.items(), key=lambda kv: -kv[1])[:8]),
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
