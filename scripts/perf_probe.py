#!/usr/bin/env python
"""Per-query optimization probe (round 12): for each named query,
capture `.explain("formatted")` to a file and time the line with
per-stage evidence (_stage_evidence — wall, executor run/cpu,
sched_overhead_share, per-stage shuffle bytes). One JSON line per query
to stdout; plans to --plans-dir when given.

Usage:
  python scripts/perf_probe.py [--plans-dir plans/r12 --suffix _before]
      [--repeat N] name [name ...]
  (no names = every bench.py headline key)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import GENERATIONS  # noqa: E402


def _stage_evidence(spark, fn, sf_dir: str) -> dict:
    """Per-stage wall/task-time evidence for a flagged line (VERDICT r07
    #2): re-run the query once and read the stages it created from the
    AppStatusStore (populated with the UI disabled). The adjudicating
    number is sched_overhead_share = 1 − (Σ executorRunTime / 32) /
    wall: near 1 means the line's wall is scheduler/launch latency
    (host-priced — many tiny stages), near 0 means executors were busy
    the whole time (a genuinely compute-bound plan, where a breach
    would indict the plan itself)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = sc._jvm.java.util.ArrayList()

    def _stages():
        dflt = lambda n: getattr(store, f"stageList$default${n}")()  # noqa: E731
        lst = store.stageList(empty, dflt(2), dflt(3), dflt(4), dflt(5))
        return [lst.apply(i) for i in range(lst.size())]

    before = max((s.stageId() for s in _stages()), default=-1)
    t0 = time.perf_counter()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    spark.catalog.clearCache()
    rows = []
    for s in _stages():
        if s.stageId() <= before:
            continue
        rows.append(
            {
                "stage": s.stageId(),
                "name": str(s.name())[:72],
                "tasks": s.numTasks(),
                "run_ms": int(s.executorRunTime()),
                "cpu_ms": round(s.executorCpuTime() / 1e6, 1),
                "shuffle_read_mb": round(s.shuffleReadBytes() / 1e6, 3),
                "shuffle_write_mb": round(s.shuffleWriteBytes() / 1e6, 3),
            }
        )
    rows.sort(key=lambda d: -d["run_ms"])
    run_total = sum(d["run_ms"] for d in rows) / 1000.0
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    return {
        "wall_sec": round(wall, 3),
        "n_stages": len(rows),
        "n_tasks": sum(d["tasks"] for d in rows),
        "executor_run_sec": round(run_total, 3),
        "executor_cpu_sec": round(sum(d["cpu_ms"] for d in rows) / 1000.0, 3),
        "ideal_parallel_sec": round(run_total / cpus, 3),
        "sched_overhead_share": round(max(0.0, 1 - (run_total / cpus) / wall), 3)
        if wall > 0
        else None,
        "stages": rows[:15],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="_before")
    ap.add_argument("--repeat", type=int, default=1)
    ap.add_argument("--plans-only", action="store_true")
    ap.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    args = ap.parse_args()

    from uforwarder_spark.registry import QUERIES
    from uforwarder_spark.session import get_spark

    names = args.names or [n for _sfx, hl in GENERATIONS for n in hl]

    spark = get_spark("uforwarder-perf-probe")
    spark.sparkContext.setLogLevel("ERROR")
    warm_dir = "/root/testdata/sf0.001"
    # per-invocation stages log (ADVICE r12: the append-mode log grew
    # unboundedly across runs)
    open("/tmp/perf_probe_stages.jsonl", "w").close()

    for name in names:
        fn = QUERIES[name]
        if not args.plans_only:
            # warm generated code at sf0.001 (bench protocol)
            spark.sparkContext.setJobDescription(f"warm:{name}")
            fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = fn(spark, args.sf_dir)
            qe = df._jdf.queryExecution()
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            plan = qe.explainString(mode)
            with open(
                os.path.join(args.plans_dir, f"{name}{args.suffix}.txt"), "w"
            ) as f:
                f.write(plan)
            spark.catalog.clearCache()
        if args.plans_only:
            print(json.dumps({"name": name, "plan": "captured"}), flush=True)
            continue
        spark.sparkContext.setJobDescription(f"probe:{name}")
        best = None
        for _ in range(args.repeat):
            ev = _stage_evidence(spark, fn, args.sf_dir)
            if best is None or ev.get("wall_sec", 9e9) < best.get("wall_sec", 9e9):
                best = ev
        spark.sparkContext.setJobDescription(None)
        out = {
            "name": name,
            "wall_sec": best.get("wall_sec"),
            "sched_overhead_share": best.get("sched_overhead_share"),
            "n_stages": best.get("n_stages"),
            "n_tasks": best.get("n_tasks"),
            "executor_run_sec": best.get("executor_run_sec"),
            "executor_cpu_sec": best.get("executor_cpu_sec"),
        }
        print(json.dumps(out), flush=True)
        with open("/tmp/perf_probe_stages.jsonl", "a") as f:
            f.write(json.dumps({"name": name, "evidence": best}) + "\n")


if __name__ == "__main__":
    main()
