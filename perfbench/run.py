#!/usr/bin/env python3
"""Same-host benchmark of uforwarder_spark: the launcher.

    python3 perfbench/run.py --workload proxy_day --seed 1 --seconds 10 --trace 0

Run it from the repository root.  The launcher makes the workload's inputs
from the seed, pins the host (Spark cores = the cores this process may use,
Spark local dirs inside the run's work directory) and starts the worker
(``worker.py``) in a process of its own.  The last line of standard output
is the result JSON: the end-to-end metrics with ``--trace 0``; with
``--trace 1`` the per-layer table of a traced worker, after an untraced
worker on the same inputs has given the tracing overhead.  Workloads and
metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import worker  # noqa: E402

# Table sizes per workload: (events, documents, embeddings).
SIZES = {
    "proxy_day": (100_000, 0, 0),
    "curation_day": (0, 2_000, 800),
    "proxy_stream": (20_000, 0, 0),
}
STREAM_FILES = 2
# JVM heap cap: the session's default (8g) lets the heap, and so the
# resident set, grow by gigabytes more on some runs than on others.
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 75
MAX_WORKERS = 2


def source_digest(root: str) -> str:
    """sha256 of the package sources; the checkout need not be a git repo."""
    h = hashlib.sha256()
    pattern = os.path.join(root, "uforwarder_spark", "**", "*.py")
    for path in sorted(glob.glob(pattern, recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def run_worker(args, root: str, data: str, work: str, cores: int, trace: int) -> dict | None:
    """One worker process; its summary, or None if it failed or timed out."""
    os.makedirs(os.path.join(work, "local"))
    conf = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{work}/eventlog",
            "--conf", "spark.ui.retainedJobs=100000",
            "--conf", "spark.ui.retainedStages=100000",
        ]
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYSPARK_SUBMIT_ARGS=" ".join(conf + ["pyspark-shell"]),
        PYTHONPATH=os.pathsep.join(p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p),
    )
    out = os.path.join(work, "summary.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--trace", str(trace),
        "--data", data, "--work", work, "--out", out,
        "--stream-files", str(STREAM_FILES),
    ]
    t0 = time.time()
    proc = subprocess.Popen(
        cmd + ["--t0", repr(t0)], env=env, cwd=root, start_new_session=True,
        stdout=subprocess.DEVNULL,
    )
    try:
        # a reference run on fewer cores than the host's gets longer
        rc = proc.wait(timeout=WORKER_TIMEOUT_S * len(os.sched_getaffinity(0)) / cores)
    except subprocess.TimeoutExpired:
        rc = None
    finally:
        # the worker's session also holds the JVM and its Python workers
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
    if rc != 0 or not os.path.exists(out):
        print(f"perfbench: {args.workload} worker failed (exit {rc})", file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with ``beyond``
    samples above it; the maximum when there are too few samples."""
    s = sorted(values)
    if len(s) <= beyond:
        return 100.0, s[-1]
    i = len(s) - beyond - 1
    return 100.0 * (i + 1) / len(s), s[i]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    p.add_argument("--workload", required=True, choices=[*worker.DAYS, "proxy_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, help="Spark cores (default: this process's CPUs)")
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "uforwarder_spark")) or not os.path.isfile(
        os.path.join(root, "tests", "parity.py")
    ):
        print("perfbench: run from the repository root (no uforwarder_spark/)", file=sys.stderr)
        return 2

    cores = args.cores or len(os.sched_getaffinity(0))
    digest = source_digest(root)
    out_dir = os.path.join(HERE, ".out")
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    plain: list[dict] = []
    traced = None
    try:
        datagen.write_tables(data, args.seed, *SIZES[args.workload])
        if args.trace:
            # the overhead's base: one untraced worker on the same inputs
            res = run_worker(args, root, data, os.path.join(work, "plain"), cores, 0)
            if res is None:
                return 1
            plain.append(res)
            traced = run_worker(args, root, data, os.path.join(work, "traced"), cores, 1)
            if traced is None:
                return 1
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(
                os.path.join(work, "traced", "spans.json"),
                os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"),
            )
        else:
            # workers, each on a fresh engine, until their timed phases add
            # up to --seconds (at most MAX_WORKERS)
            while len(plain) < MAX_WORKERS and sum(r["timed"]["wall_s"] for r in plain) < args.seconds:
                res = run_worker(args, root, data, os.path.join(work, f"plain{len(plain)}"), cores, 0)
                if res is None:
                    return 1
                plain.append(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    import pyspark

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "git": git_sha(root),
        "source_sha256": digest,
    }
    print("host: " + json.dumps(stamp))
    runs = plain + ([traced] if traced else [])

    def med(get) -> float:
        return statistics.median(get(r) for r in plain)

    # no steps only when every call or twin failed
    steps = [x for r in plain for x in r["timed"]["steps_ms"]] or [0.0]
    pct, tail_ms = tail(steps)
    print(
        f"workers: {len(runs)}  warmup_s: {med(lambda r: r['warmup_s']):.2f}  "
        f"verify_s: {med(lambda r: r['verify_s']):.2f}  steps: n={len(steps)} "
        f"p50={statistics.median(steps):.1f} ms  tail p{pct:.0f}={tail_ms:.1f} ms"
    )
    # printed, not gated: bimodal from seed to seed (see BASELINE.md)
    print(f"peak_rss_mb: {med(lambda r: r['timed']['peak_rss_mb']):.1f}")
    if args.workload == "proxy_stream":
        print(f"drain_msgs_per_s: {med(lambda r: r['timed']['drain_msgs_per_s']):.1f}")
    failed = [f for r in runs for f in r["failed"]]
    attempted = sum(r["attempted"] for r in runs)
    for f in failed:
        print(f"failed: {f}")

    if traced is not None:
        tw, bw = traced["timed"]["wall_s"], plain[0]["timed"]["wall_s"]
        print(
            f"tracing overhead: traced wall_s {tw:.3f} - untraced wall_s {bw:.3f} "
            f"= {tw - bw:+.3f} s ({traced['n_spans']} spans)"
        )
        units = worker.layer_units()
        for name, value in traced["layers"].items():
            print(f"layer {name:<48} {value:>16.4f} {units[name]}")
        metrics = {k: {"value": v, "unit": units[k]} for k, v in traced["layers"].items()}
    else:
        metrics = {
            "setup_s": (med(lambda r: r["setup"]["setup_s"]), "s"),
            "wall_s": (med(lambda r: r["timed"]["wall_s"]), "s"),
            "step_ms_p50": (statistics.median(steps), "ms"),
            "cpu_s": (med(lambda r: r["timed"]["cpu_s"]), "s"),
            "written_mb": (med(lambda r: r["timed"]["written_mb"]), "MB"),
            "ok_frac": (1 - len(failed) / attempted, "ratio"),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    result = {
        "correct": not failed,
        "attempted": attempted,
        "failed": len(failed),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
