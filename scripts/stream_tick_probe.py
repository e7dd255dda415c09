#!/usr/bin/env python
"""Per-tick streaming probe (VERDICT r12 item 9): drive each changed
foreachBatch pipeline over a real file stream at bench SF and record
the per-trigger batchDuration plus the pre-trigger index-build wall,
turning "the streaming twin inherits the batch-kernel win" into a
recorded number.

One JSON line per pipeline to stdout:
  {"pipeline": ..., "setup_s": ..., "drain_s": ..., "timed_out": false,
   "ticks": [{"rows": N, "ms": D}, ...]}
A pipeline that has not drained after 600 s is stopped and reported
with "timed_out": true; its ticks are the ones it finished.

--repo lets the same script run against an older checkout (a plain
`git worktree add` of the pre-change commit) for an honest A/B with
identical harness code.

Usage: python scripts/stream_tick_probe.py [--repo DIR] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ap = argparse.ArgumentParser()
ap.add_argument("names", nargs="*")
ap.add_argument("--repo", default=None)
ap.add_argument(
    "--sf-dir",
    default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
)
args = ap.parse_args()
REPO = args.repo or os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

import uforwarder_spark.streaming.pipelines as P  # noqa: E402
from uforwarder_spark.model import load_parallel, load_table  # noqa: E402
from uforwarder_spark.session import get_spark  # noqa: E402

spark = get_spark("uforwarder-stream-tick-probe")
spark.sparkContext.setLogLevel("ERROR")
SF = args.sf_dir


def _docs_split(tmp: str):
    d = load_table(spark, SF, "documents")
    side = F.expr("CAST(substring(source, 4) AS INT) % 2")
    ind = os.path.join(tmp, "incoming")
    d.filter(side == 1).repartition(4).write.mode("overwrite").parquet(ind)
    return d.filter(side == 0), ind


def e28(tmp: str):
    corpus, ind = _docs_split(tmp)
    return P.phash_dedup_pipeline(
        P.document_stream(spark, ind, files_per_trigger=2),
        corpus,
        out_dir=os.path.join(tmp, "out"),
        checkpoint_dir=os.path.join(tmp, "ckpt"),
    )


def _fertility(tmp: str, fn):
    docs = load_parallel(spark, SF, "documents")
    ind = os.path.join(tmp, "incoming")
    docs.repartition(4).write.mode("overwrite").parquet(ind)
    return fn(
        P.document_stream(spark, ind, files_per_trigger=2),
        docs,
        os.path.join(tmp, "state"),
        os.path.join(tmp, "ckpt"),
    )


def e50(tmp: str):
    return _fertility(tmp, P.bpe_fertility_pipeline)


def e52(tmp: str):
    return _fertility(tmp, P.wordpiece_fertility_pipeline)


def e31(tmp: str):
    from uforwarder_spark.operators.similarity import QUERY_MOD, _emb

    e = _emb(spark, SF)
    q = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    src = os.path.join(tmp, "src")
    q.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("qid long, qv array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return P.ann_query_serving_pipeline(
        stream, e, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    )


def _vec_split(tmp: str):
    from uforwarder_spark.operators.similarity import _emb

    e = _emb(spark, SF)
    incoming = e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "v")
    existing = e.filter(F.col("vec_id") % 2 == 0)
    src = os.path.join(tmp, "src")
    incoming.repartition(4).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema("vec_id long, v array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return stream, existing


def e34(tmp: str):
    stream, existing = _vec_split(tmp)
    return P.knn_ingest_pipeline(
        stream, existing, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    )


def e44(tmp: str):
    stream, existing = _vec_split(tmp)
    return P.triplet_mining_pipeline(
        stream, existing, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    )


def e39(tmp: str):
    from uforwarder_spark.functions.text import TOKENS_SPARK
    from uforwarder_spark.operators.similarity import _RRF_QUERY_MOD, _emb

    docs = load_parallel(spark, SF, "documents")
    e = _emb(spark, SF)
    reqs = (
        docs.filter(F.col("doc_id") % _RRF_QUERY_MOD == 0)
        .select(
            F.col("doc_id").alias("qid"),
            F.array_distinct(F.expr(TOKENS_SPARK)).alias("terms"),
        )
        .join(
            e.select(F.col("vec_id").alias("qid"), F.col("v").alias("qv")),
            "qid",
        )
    )
    src = os.path.join(tmp, "src")
    reqs.repartition(2).write.mode("overwrite").parquet(src)
    stream = (
        spark.readStream.schema(
            "qid long, terms array<string>, qv array<double>"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    return P.hybrid_serving_pipeline(
        stream, docs, e, os.path.join(tmp, "out"), os.path.join(tmp, "ckpt")
    )


PIPELINES = {
    "e28_phash_dedup": e28,
    "e50_bpe_fertility": e50,
    "e52_wordpiece_fertility": e52,
    "e31_ann_query_serving": e31,
    "e34_knn_ingest": e34,
    "e39_hybrid_serving": e39,
    "e44_triplet_mining": e44,
}


def main() -> None:
    names = args.names or list(PIPELINES)
    for name in names:
        tmp = tempfile.mkdtemp(prefix=f"tickprobe_{name}_")
        try:
            spark.sparkContext.setJobDescription(f"tick-probe setup: {name}")
            t0 = time.monotonic()
            q = PIPELINES[name](tmp)
            t1 = time.monotonic()
            # a query still running must stop before its directories go
            timed_out = not q.awaitTermination(timeout=600)
            if timed_out:
                q.stop()
            t2 = time.monotonic()
            ticks = [
                {"rows": p["numInputRows"], "ms": p["batchDuration"]}
                for p in q.recentProgress
            ]
            print(
                json.dumps(
                    {
                        "pipeline": name,
                        "repo": REPO,
                        "setup_s": round(t1 - t0, 2),
                        "drain_s": round(t2 - t1, 2),
                        "timed_out": timed_out,
                        "ticks": ticks,
                    }
                ),
                flush=True,
            )
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
