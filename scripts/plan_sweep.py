#!/usr/bin/env python
"""All-keys plan sweep: capture explain("formatted") metrics for every
declared query (plan_metrics.metrics) and write one JSON summary.

Usage: python scripts/plan_sweep.py [--out plans/plan_sweep_all_keys.json]

Reads the SF dir from $SPARK_GRAFT_SF_DIR (default sf0.001 — plans are
shape-stable across SFs and the sweep only needs the cheapest one);
derives the repo root from __file__ (ADVICE r12)."""
import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

ap = argparse.ArgumentParser()
ap.add_argument("--out", default=os.path.join(REPO, "plans", "plan_sweep_all_keys.json"))
ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
args = ap.parse_args()

from pyspark.sql import SparkSession  # noqa: E402

spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

import __spark_entry__ as e  # noqa: E402
from plan_metrics import metrics  # noqa: E402

qs = e.queries()
out = {}
for i, (name, fn) in enumerate(qs.items()):
    try:
        df = fn(spark, args.sf_dir)
        qe = df._jdf.queryExecution()
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        m = metrics(qe.explainString(mode))
        out[name] = m
    except Exception as exc:
        out[name] = {"error": str(exc)[:120]}
    spark.catalog.clearCache()
    print(f"[{i+1}/{len(qs)}] {name}", flush=True)
os.makedirs(os.path.dirname(args.out), exist_ok=True)
with open(args.out, "w") as f:
    json.dump(out, f, indent=1)
flag = {n: m for n, m in out.items() if m.get("cartesian") or m.get("sort_agg") or m.get("error")}
print("FLAGGED:", json.dumps(flag, indent=1))
