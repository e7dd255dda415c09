"""Randomized multi-trigger replay tests for the stateful pipelines.

Part 1 (round-4 verdict item 6): the applyInPandasWithState machines —
E12 scale windows, E13 delay-process, E14 bootstrap, E16 AIMD, E17
linger, E24 funnel. Hypothesis draws the event sequences AND the
micro-batch boundaries, and every run includes one mid-stream restart
(phase 1 drains with availableNow, the query stops, more files land, a
new query resumes from the same checkpoint) — so state-store
round-trips, not just single-query state carry, are what converge to
the batch-twin / pure-Python model.

Part 2 (round-5 verdict item 3): ALL the batchId-versioned
foreachBatch pipelines — E15 incremental dedup, E19 mixture weights,
E20 Bloom gate, E21 entropy, E22 HLL, E23 HDR quantiles, E25 BM25
index, E27 DSIR, E28 phash dedup, E29 decontamination, E30 system
load, E31 query serving.
These go further than a restart: the harness deletes the newest
checkpoint commit marker between phases, so the restarted query
REPLAYS the last batch with the same batch_id (true at-least-once),
and the tests assert the replayed batch's state re-materializes
bit-identical before checking final convergence to the batch twin.
"""

from __future__ import annotations

import math
import os
import tempfile
import time as _time

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from tests.state_dirs import latest_batch_id
from uforwarder_spark.streaming import pipelines as P

import pytest

# Driver profile (VERDICT r12 item 2): the replay/at-least-once sweeps
# re-run whole pipelines per hypothesis example — the single largest
# block of the suite. Behind `-m slow`; the per-pipeline batch-equality
# coverage stays in the default run (tests/test_streaming.py).
pytestmark = pytest.mark.slow

SETTINGS = dict(
    max_examples=3, deadline=None, derandomize=True,
    suppress_health_check=list(HealthCheck),
)


def _write_chunks(spark, chunks, schema, src, base_mtime, start_idx=0):
    """One parquet dir per chunk with strictly ascending mtimes so the
    file source (ordered by mtime) delivers chunk i as micro-batch i."""
    for i, pdf in enumerate(chunks, start=start_idx):
        d = os.path.join(src, f"f{i:03d}")
        spark.createDataFrame(pdf, schema).coalesce(1).write.mode("overwrite").parquet(d)
        for root, _, files in os.walk(d):
            for f in files:
                t = base_mtime + i
                os.utime(os.path.join(root, f), (t, t))


def _run_phase(spark, transform, schema, src, checkpoint, mode, collected):
    """Run one availableNow pass over the files currently in src,
    appending (batch_id, rows) to collected; returns after drain."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    q = (
        transform(stream)
        .writeStream.foreachBatch(
            lambda bdf, bid: collected.append((bid, bdf.collect()))
        )
        .outputMode(mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout=300)


def _chunked(rows, assignment, n_chunks):
    return [
        [r for r, c in zip(rows, assignment) if c == k] for k in range(n_chunks)
    ]


# --- E12: scale windows ----------------------------------------------------
def _scalewin_model(topic, samples):
    """Pure-Python port of the reference's BoundedWindow accept-and-
    rebuild loop (the same model test_e12 validates single-run); the
    float ops mirror _scalewin_machine's exactly, so equality is
    bit-exact, not approximate."""
    cfg = {"click": (0.10, 0.10), "error": (1.00, 0.05), "purchase": (0.20, 0.08)}
    scale, quota = cfg[topic]
    NB, n = 100, 0

    def bounds(s):
        return {
            "up": (s, 2.0 * s, 0.5, 1.2 * s, 2.0 * s),
            "down": (0.5 * s, s, 0.99, 0.5 * s, 0.8 * s),
            "hib": (0.0, s, 0.99, 0.0, 0.0),
        }

    counts = {c: [0] * NB for c in bounds(scale)}
    for mps in samples:
        s = mps / (quota / 4.0)
        b = bounds(scale)
        for comp, (lo, hi, _, _, _) in b.items():
            w = (hi - lo) / NB
            counts[comp][min(NB - 1, max(0, math.ceil((s - lo) / w)))] += 1
        n += 1
        if n < 10:
            continue
        for comp, (lo, hi, pct, out_lo, out_hi) in b.items():
            w = (hi - lo) / NB
            pivot = int(pct * n)
            tot, idx = 0, 0
            for idx in range(NB):
                tot += counts[comp][idx]
                if tot >= pivot:
                    break
            prop = lo + idx * w
            if out_lo <= prop <= out_hi:
                scale, n = (prop if comp != "hib" else 0.0), 0
                counts = {c: [0] * NB for c in bounds(max(scale, 1e-9))}
                break
    return scale, n


@settings(**SETTINGS)
@given(
    mps_click=st.lists(st.floats(0.0005, 0.02, allow_nan=False), min_size=12, max_size=24),
    mps_error=st.lists(st.floats(0.0005, 0.02, allow_nan=False), min_size=12, max_size=24),
    n_chunks=st.integers(2, 4),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e12_randomized_replay_converges(
    spark, mps_click, mps_error, n_chunks, assign_seed, restart_at
):
    """E12 property: for ANY sample sequence and ANY micro-batch
    chunking with one mid-stream restart, the final (scale, n_samples)
    per topic equals the pure-Python online model run over the samples
    in effective stream order (chunk order, window_start order within
    a chunk — what the machine's in-batch sort produces)."""
    base = pd.Timestamp("2024-01-01")
    rows = []
    for topic, mps_list in (("click", mps_click), ("error", mps_error)):
        for i, mps in enumerate(mps_list):
            rows.append((topic, base + pd.Timedelta(minutes=5 * i), float(mps)))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = _chunked(rows, assignment, n_chunks)
    chunks = [c for c in chunks if c] or [rows]
    restart_at = min(restart_at, len(chunks))

    # effective per-topic order: batches in file order, sorted by
    # window_start inside each batch (== the machine's sort)
    effective: dict[str, list[float]] = {"click": [], "error": []}
    for c in chunks:
        for topic, _, mps in sorted(c, key=lambda r: (r[1],)):
            effective[topic].append(mps)

    schema = "topic string, window_start timestamp, mps double"
    tmp = tempfile.mkdtemp(prefix="e12rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    cols = ["topic", "window_start", "mps"]
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731
    now = _time.time() - 1000
    collected: list = []
    _write_chunks(spark, [to_pdf(c) for c in chunks[:restart_at]], schema, src, now)
    _run_phase(spark, P.scale_proposal_stream, schema, src, ckpt, "update", collected)
    if chunks[restart_at:]:
        _write_chunks(
            spark, [to_pdf(c) for c in chunks[restart_at:]], schema, src, now,
            start_idx=restart_at,
        )
        _run_phase(spark, P.scale_proposal_stream, schema, src, ckpt, "update", collected)

    final = {}
    for _, batch_rows in sorted(collected, key=lambda p: p[0]):
        for r in batch_rows:
            final[r.topic] = r
    for topic in ("click", "error"):
        if not effective[topic]:
            continue
        want_scale, want_n = _scalewin_model(topic, effective[topic])
        assert final[topic].scale == want_scale, topic
        assert final[topic].n_samples == want_n, topic


# --- E13: delay-process ----------------------------------------------------
@settings(**SETTINGS)
@given(
    n_msgs=st.integers(14, 30),
    minute_gaps=st.lists(st.integers(0, 90), min_size=30, max_size=30),
    n_chunks=st.integers(2, 4),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e13_randomized_replay_matches_model(
    spark, n_msgs, minute_gaps, n_chunks, assign_seed, restart_at
):
    """E13 property: for ANY event-time schedule, ANY chunking, and one
    mid-stream restart, every release row (offset, was_parked,
    released_ms) equals the pure-Python replay, and released + parked
    covers every input exactly once."""
    from tests.test_streaming import _delay_model

    base = pd.Timestamp("2024-01-01")
    rows = []
    for topic, pid in (("click", 0), ("view", 0), ("view", 1)):
        t = base
        for off in range(n_msgs):
            t = t + pd.Timedelta(minutes=minute_gaps[off % len(minute_gaps)])
            rows.append((topic, pid, off, t))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = _chunked(rows, assignment, n_chunks)
    chunks = [c for c in chunks if c] or [rows]
    restart_at = min(restart_at, len(chunks))

    cols = ["topic", "part_id", "msg_offset", "ts"]
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731
    schema = "topic string, part_id long, msg_offset long, ts timestamp"
    tmp = tempfile.mkdtemp(prefix="e13rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000
    collected: list = []
    _write_chunks(spark, [to_pdf(c) for c in chunks[:restart_at]], schema, src, now)
    _run_phase(spark, P.delay_process_stream, schema, src, ckpt, "append", collected)
    if chunks[restart_at:]:
        _write_chunks(
            spark, [to_pdf(c) for c in chunks[restart_at:]], schema, src, now,
            start_idx=restart_at,
        )
        _run_phase(spark, P.delay_process_stream, schema, src, ckpt, "append", collected)

    from uforwarder_spark.operators.pipeline import DELAYS

    want, residual = _delay_model([to_pdf(c) for c in chunks], dict(DELAYS))
    got = [r for _, batch_rows in collected for r in batch_rows]
    assert len(got) == len(want)
    for r in got:
        key = (r.topic, r.part_id, r.msg_offset)
        assert key in want, f"unexpected release {key}"
        wp, rel = want[key]
        assert r.was_parked == wp, key
        assert r.released_ms == rel, key
    n_residual = sum(len(v) for v in residual.values())
    assert len(got) + n_residual == len(rows)


# --- E24: funnel -----------------------------------------------------------
@settings(**SETTINGS)
@given(
    etypes=st.lists(
        st.sampled_from(["view", "click", "purchase", "error"]),
        min_size=20,
        max_size=60,
    ),
    n_users=st.integers(2, 4),
    boundary_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e24_randomized_replay_matches_first_reach(
    spark, etypes, n_users, boundary_seed, restart_at
):
    """E24 property: for ANY per-user event sequence, ANY contiguous
    event_id chunking (preserving per-user order, Kafka's per-key
    guarantee), and one mid-stream restart, the appended rows are
    EXACTLY each user's first-reach events (first view, first click
    after it, first purchase after that) — once each, never revised."""
    events = [
        (eid % n_users, eid, et) for eid, et in enumerate(etypes)
    ]  # event_id ascending; user round-robin keeps per-user order trivial
    # contiguous chunk boundaries preserve per-user event_id order
    n_chunks = boundary_seed.randint(2, 4)
    cuts = sorted(boundary_seed.sample(range(1, len(events)), min(n_chunks - 1, len(events) - 1)))
    chunks, prev = [], 0
    for c in [*cuts, len(events)]:
        chunks.append(events[prev:c])
        prev = c
    chunks = [c for c in chunks if c]
    restart_at = min(restart_at, len(chunks))

    # pure-Python first-reach model
    want: set[tuple[int, int, int]] = set()
    prog: dict[int, list] = {u: [None, None, None] for u in range(n_users)}
    for u, eid, et in events:
        e1, e2, e3 = prog[u]
        if e1 is None and et == "view":
            prog[u][0] = eid
            want.add((u, 1, eid))
        elif e1 is not None and e2 is None and et == "click" and eid > e1:
            prog[u][1] = eid
            want.add((u, 2, eid))
        elif e2 is not None and e3 is None and et == "purchase" and eid > e2:
            prog[u][2] = eid
            want.add((u, 3, eid))

    cols = ["user_id", "event_id", "event_type"]
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731
    schema = "user_id long, event_id long, event_type string"
    tmp = tempfile.mkdtemp(prefix="e24rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000
    collected: list = []
    _write_chunks(spark, [to_pdf(c) for c in chunks[:restart_at]], schema, src, now)
    _run_phase(spark, P.funnel_stream, schema, src, ckpt, "append", collected)
    if chunks[restart_at:]:
        _write_chunks(
            spark, [to_pdf(c) for c in chunks[restart_at:]], schema, src, now,
            start_idx=restart_at,
        )
        _run_phase(spark, P.funnel_stream, schema, src, ckpt, "append", collected)

    got = [
        (int(r.user_id), int(r.step), int(r.event_id))
        for _, batch_rows in collected
        for r in batch_rows
    ]
    assert len(got) == len(set(got)), "a first-reach row fired twice"
    assert set(got) == want


# --- E14: bootstrap phase --------------------------------------------------
@settings(**SETTINGS)
@given(
    acks=st.lists(st.booleans(), min_size=80, max_size=260),
    n_chunks=st.integers(2, 4),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e14_randomized_replay_matches_counter_model(
    spark, acks, n_chunks, assign_seed, restart_at
):
    """E14 property: for ANY ack pattern, ANY chunking, and one
    mid-stream restart, every message's (phase, effective_cap,
    completed_after) equals the cumulative-completed replay over the
    EFFECTIVE stream order (batch order, offset order within batch) —
    the completed counter must survive both micro-batch boundaries and
    the state-store round-trip."""
    rows = [("t", 0, off, bool(a)) for off, a in enumerate(acks)]
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = _chunked(rows, assignment, n_chunks)
    chunks = [c for c in chunks if c] or [rows]
    restart_at = min(restart_at, len(chunks))

    # effective order: chunk order, offset order within chunk
    effective = [r for c in chunks for r in sorted(c, key=lambda r: r[2])]
    BOOT_CAP, STEADY_CAP, THRESHOLD = 10, 50, 100
    completed, want = 0, {}
    for _, _, off, acked in effective:
        working = completed > THRESHOLD
        if acked:
            completed += 1
        want[off] = (
            "working" if working else "bootstrap",
            STEADY_CAP if working else min(BOOT_CAP, STEADY_CAP),
            completed,
        )

    cols = ["topic", "part_id", "msg_offset", "acked"]
    schema = "topic string, part_id long, msg_offset long, acked boolean"
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731
    tmp = tempfile.mkdtemp(prefix="e14rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000
    collected: list = []
    _write_chunks(spark, [to_pdf(c) for c in chunks[:restart_at]], schema, src, now)
    _run_phase(spark, P.bootstrap_phase_stream, schema, src, ckpt, "append", collected)
    if chunks[restart_at:]:
        _write_chunks(
            spark, [to_pdf(c) for c in chunks[restart_at:]], schema, src, now,
            start_idx=restart_at,
        )
        _run_phase(
            spark, P.bootstrap_phase_stream, schema, src, ckpt, "append", collected
        )

    got = [r for _, batch_rows in collected for r in batch_rows]
    assert len(got) == len(rows)
    for r in got:
        assert (r.phase, r.effective_cap, r.completed_after) == want[r.msg_offset], (
            r.msg_offset
        )


# --- E16: AIMD limit -------------------------------------------------------
@settings(**SETTINGS)
@given(
    events=st.lists(
        st.tuples(st.sampled_from(["DELIVERED", "RETRY", "DLQ"]), st.booleans()),
        min_size=120,
        max_size=320,
    ),
    n_chunks=st.integers(2, 4),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e16_randomized_replay_matches_aimd_fold(
    spark, events, n_chunks, assign_seed, restart_at
):
    """E16 property: for ANY outcome sequence, ANY chunking, and one
    mid-stream restart, the emitted limit trajectory equals the AIMD
    fold over the effective stream order — the partial adaptation batch
    (count + flags) must ride intact across micro-batch boundaries AND
    the restart."""
    rows = [("t", 0, off, oc, bool(a)) for off, (oc, a) in enumerate(events)]
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = _chunked(rows, assignment, n_chunks)
    chunks = [c for c in chunks if c] or [rows]
    restart_at = min(restart_at, len(chunks))

    effective = [r for c in chunks for r in sorted(c, key=lambda r: r[2])]
    BATCH, LIM0, LMIN, LMAX = 50, 50, 4, 200
    in_b, drop, succ, lim, bid, ninc, ndec = 0, False, False, LIM0, 0, 0, 0
    want = []
    for _, _, off, oc, acked in effective:
        drop = drop or oc == "DLQ"
        succ = succ or acked
        in_b += 1
        if in_b == BATCH:
            if drop:
                lim = max(LMIN, lim // 2)
                ndec += 1
            elif succ:
                lim = min(LMAX, lim + 1)
                ninc += 1
            want.append((bid, drop, succ, lim, ninc, ndec))
            bid += 1
            in_b, drop, succ = 0, False, False

    cols = ["topic", "part_id", "msg_offset", "outcome", "acked"]
    schema = (
        "topic string, part_id long, msg_offset long, outcome string, acked boolean"
    )
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731
    tmp = tempfile.mkdtemp(prefix="e16rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000
    collected: list = []
    _write_chunks(spark, [to_pdf(c) for c in chunks[:restart_at]], schema, src, now)
    _run_phase(spark, P.aimd_limit_stream, schema, src, ckpt, "append", collected)
    if chunks[restart_at:]:
        _write_chunks(
            spark, [to_pdf(c) for c in chunks[restart_at:]], schema, src, now,
            start_idx=restart_at,
        )
        _run_phase(spark, P.aimd_limit_stream, schema, src, ckpt, "append", collected)

    got = sorted(
        (
            (r.batch_id, r.has_drop, r.has_succ, r.limit_after, r.n_increase, r.n_decrease)
            for _, batch_rows in collected
            for r in batch_rows
        )
    )
    assert got == want


# --- E17: linger sampler ---------------------------------------------------
@settings(**SETTINGS)
@given(
    minute_gaps=st.lists(st.integers(0, 400), min_size=25, max_size=70),
    vals=st.lists(
        st.floats(-100.0, 100.0, allow_nan=False, allow_infinity=False),
        min_size=70,
        max_size=70,
    ),
    n_chunks=st.integers(2, 4),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e17_randomized_replay_matches_linger_gate(
    spark, minute_gaps, vals, n_chunks, assign_seed, restart_at
):
    """E17 property: for ANY read schedule (gaps straddling the linger
    interval both ways), ANY chunking, and one mid-stream restart,
    every read's (fresh, sample_age_ms, sampled_value) equals the
    rolling-gate replay over the effective stream order — the
    (lastTick, lastValue) pair must survive micro-batch boundaries and
    the state-store round-trip."""
    LINGER_MS = 10_000_000
    base = pd.Timestamp("2024-01-01")
    rows, t = [], base
    for off, g in enumerate(minute_gaps):
        t = t + pd.Timedelta(minutes=g)
        rows.append(("t", 0, off, t, float(vals[off])))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = _chunked(rows, assignment, n_chunks)
    chunks = [c for c in chunks if c] or [rows]
    restart_at = min(restart_at, len(chunks))

    # effective order: chunk order; (ts, offset) order within chunk
    effective = [r for c in chunks for r in sorted(c, key=lambda r: (r[3], r[2]))]
    last_tick, last_val, want = None, 0.0, {}
    for _, _, off, ts, v in effective:
        now = ts.value // 1_000_000
        if last_tick is None or now - last_tick > LINGER_MS:
            last_tick, last_val = now, v
            fresh = True
        else:
            fresh = False
        want[off] = (fresh, now - last_tick, last_val)

    cols = ["topic", "part_id", "msg_offset", "ts", "payload_value"]
    schema = (
        "topic string, part_id long, msg_offset long, ts timestamp, "
        "payload_value double"
    )
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731
    tmp = tempfile.mkdtemp(prefix="e17rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now0 = _time.time() - 1000
    collected: list = []
    _write_chunks(spark, [to_pdf(c) for c in chunks[:restart_at]], schema, src, now0)
    _run_phase(spark, P.linger_sample_stream, schema, src, ckpt, "append", collected)
    if chunks[restart_at:]:
        _write_chunks(
            spark, [to_pdf(c) for c in chunks[restart_at:]], schema, src, now0,
            start_idx=restart_at,
        )
        _run_phase(
            spark, P.linger_sample_stream, schema, src, ckpt, "append", collected
        )

    got = [r for _, batch_rows in collected for r in batch_rows]
    assert len(got) == len(rows)
    for r in got:
        assert (r.fresh, r.sample_age_ms, r.sampled_value) == want[r.msg_offset], (
            r.msg_offset
        )


# --- foreachBatch monitors: batchId-versioned replay idempotence -----------
# E20/E22/E27/E29 claim at-least-once idempotence via batchId-versioned
# state (each trigger writes {state}/batch_id=N after merging against
# batch_id=N-1, and a replay of batch N re-derives the same directory).
# These tests INJECT a real replay: after phase 1 drains, the newest
# checkpoint commit marker is deleted, so the restarted query re-runs
# the last batch with the SAME batch_id before taking new files — then
# the replayed batch's state must be bit-identical to the pre-replay
# snapshot, and the final state must equal the batch twin over all data.

DOCS_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
DOCS_COLS = ["doc_id", "text", "lang", "source", "n_chars"]

MONITOR_SETTINGS = dict(
    max_examples=2, deadline=None, derandomize=True,
    suppress_health_check=list(HealthCheck),
)


def _inject_replay(ckpt: str) -> int:
    """Delete the newest commit marker so the next restart re-runs the
    last batch with the SAME batch_id (at-least-once replay)."""
    cdir = os.path.join(ckpt, "commits")
    ids = [f for f in os.listdir(cdir) if f.isdigit()]
    assert ids, "no committed batch to replay"
    bid = max(int(i) for i in ids)
    os.remove(os.path.join(cdir, str(bid)))
    # the local FS keeps a Hadoop .crc sidecar; leaving it behind makes
    # the re-commit's createAtomic see an existing checksum and abort
    # with a spurious "multiple queries on one checkpoint" error
    crc = os.path.join(cdir, f".{bid}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return bid


def _sorted_pdf(spark, path):
    pdf = spark.read.parquet(path).toPandas()
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:  # partition-discovered batch_id arrives as int32
        if pdf[c].dtype.kind == "i":
            pdf[c] = pdf[c].astype("int64")
    return pdf.sort_values(by=list(pdf.columns), kind="mergesort").reset_index(
        drop=True
    )


def _run_monitor_phase(spark, make_query, src):
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    q = make_query(stream)
    q.awaitTermination(timeout=300)


def _doc_chunks(docs_pdf, n_chunks, assign_seed):
    rows = list(docs_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame([r for r, c in zip(rows, assignment) if c == k], columns=DOCS_COLS)
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [docs_pdf]
    return chunks


def _monitor_replay_run(spark, docs_pdf, make_query, replay_state_paths,
                        n_chunks, assign_seed, restart_at, tmp_prefix):
    """Shared harness: chunk docs_pdf into per-batch files, drain phase 1,
    snapshot the to-be-replayed batch's state dirs, inject the replay,
    land the remaining chunks, drain phase 2, and assert every snapshot
    re-materialized bit-identical. Returns (src, ckpt, replayed_bid)."""
    chunks = _doc_chunks(docs_pdf, n_chunks, assign_seed)
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix=tmp_prefix)
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000
    _write_chunks(spark, chunks[:restart_at], DOCS_SCHEMA, src, now)
    _run_monitor_phase(spark, lambda s: make_query(s, tmp, ckpt), src)
    bid = _inject_replay(ckpt)
    before = {
        p: _sorted_pdf(spark, p.format(tmp=tmp, bid=bid)) for p in replay_state_paths
    }
    if chunks[restart_at:]:
        _write_chunks(
            spark, chunks[restart_at:], DOCS_SCHEMA, src, now, start_idx=restart_at
        )
    _run_monitor_phase(spark, lambda s: make_query(s, tmp, ckpt), src)
    for p, snap in before.items():
        after = _sorted_pdf(spark, p.format(tmp=tmp, bid=bid))
        pd.testing.assert_frame_equal(after, snap, check_exact=True)  # bit-identical replay
    return tmp, ckpt, bid


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e22_hll_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E22 property: for ANY chunking, a mid-stream restart WITH a
    replayed batch re-writes bit-identical register state (the MAX-merge
    idempotence claim, now evidenced), and the final registers and
    estimates equal batch D49's over the whole corpus."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import hll_distinct_tokens, hll_register_frame
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.hll_monitor_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        ["{tmp}/state/regs/batch_id={bid}", "{tmp}/state/estimate/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e22rr",
    )
    last = latest_batch_id(f"{tmp}/state/estimate")
    got_regs = _sorted_pdf(spark, f"{tmp}/state/regs/batch_id={last}")
    want_regs = (
        hll_register_frame(docs).toPandas()[got_regs.columns.tolist()]
        .sort_values(by=got_regs.columns.tolist(), kind="mergesort")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got_regs, want_regs, check_exact=True)
    got = {
        r.source: r.est
        for r in spark.read.parquet(f"{tmp}/state/estimate/batch_id={last}").collect()
    }
    exp = {
        r.source: r.hll_estimate
        for r in hll_distinct_tokens(spark, SF_SMALL).collect()
    }
    assert set(got) == set(exp)
    for s in exp:
        assert round(got[s]) == exp[s], s


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e27_dsir_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E27 property: additive bucket counts survive ANY chunking + a
    replayed batch (bit-identical re-write), and the final log-ratio
    table equals batch D63's over the whole corpus."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.training import (
        dsir_counts_frame,
        dsir_ratio_frame,
        dsir_token_buckets_frame,
    )

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.dsir_model_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        ["{tmp}/state/counts/batch_id={bid}", "{tmp}/state/ratio/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e27rr",
    )
    last = latest_batch_id(f"{tmp}/state/ratio")
    got = {
        r.b: r.lr
        for r in spark.read.parquet(f"{tmp}/state/ratio/batch_id={last}").collect()
    }
    sides = docs.select(
        "doc_id", "text", F.expr("CAST(substring(source, 4) AS INT) % 2").alias("side")
    )
    want = {
        r.b: r.lr
        for r in dsir_ratio_frame(
            dsir_counts_frame(dsir_token_buckets_frame(sides))
        ).collect()
    }
    assert got == want


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e20_bloom_replay_idempotent_and_matches_batch(
    spark, n_chunks, assign_seed, restart_at
):
    """E20 property: for ANY arrival chunking of the incoming side and a
    replayed batch (re-written bit-identical against the static corpus
    bitset), the union of streamed decisions equals batch D43's."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import bloom_dedup_prefilter

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    corpus = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
    incoming_pdf = (
        all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
        .toPandas()[DOCS_COLS]
    )

    def make_query(stream, tmp, ckpt):
        return P.bloom_prefilter_pipeline(stream, corpus, os.path.join(tmp, "out"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, incoming_pdf, make_query, ["{tmp}/out/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e20rr",
    )
    cols = ["doc_id", "maybe_dup", "is_dup", "bloom_false_positive"]
    got = (
        spark.read.parquet(f"{tmp}/out")
        .select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    exp = (
        bloom_dedup_prefilter(spark, SF_SMALL)
        .select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(exp) and len(got) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e29_gate_replay_idempotent_and_matches_batch(
    spark, n_chunks, assign_seed, restart_at
):
    """E29 property: for ANY arrival chunking and a replayed batch
    (re-gated bit-identical), the streamed decisions roll up to batch
    D20 (exact rows) and batch D67 (n-gram rows). Runs on the sf0.01
    corpus, where the n-gram gate has real hits."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_MED
    from uforwarder_spark.model import load_table
    from uforwarder_spark.operators.dedup import (
        contamination_check,
        ngram_decontamination,
    )

    d = load_table(spark, SF_MED, "documents")
    docs_pdf = d.toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.contamination_gate_pipeline(stream, d, os.path.join(tmp, "out"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query, ["{tmp}/out/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e29rr",
    )
    dec = spark.read.parquet(f"{tmp}/out")
    assert dec.select("doc_id").distinct().count() == len(docs_pdf)
    rolled = {
        r.source: (r.n_contaminated, r.n_eval_hit)
        for r in dec.filter("contaminated AND via = 'exact'")
        .groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_contaminated"),
            F.countDistinct("eval_doc_id").alias("n_eval_hit"),
        )
        .collect()
    }
    want = {
        r.source: (r.n_contaminated, r.n_eval_hit)
        for r in contamination_check(spark, SF_MED).collect()
    }
    assert rolled == want
    g_rolled = {
        r.doc_id: (r.n_gram_hits, r.n_eval_docs)
        for r in dec.filter("via = 'ngram'")
        .groupBy("doc_id")
        .agg(
            F.first("n_gram_hits").alias("n_gram_hits"),
            F.countDistinct("eval_doc_id").alias("n_eval_docs"),
        )
        .collect()
    }
    g_want = {
        r.doc_id: (r.n_gram_hits, r.n_eval_docs)
        for r in ngram_decontamination(spark, SF_MED).collect()
        if r.contaminated
    }
    assert g_rolled == g_want
    assert len(g_want) > 0


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e30_system_load_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E30 property: the per-job counters (additive) and span (MIN/MAX)
    survive ANY chunking + a replayed batch (bit-identical re-write),
    and the final load table equals batch B22's bit-for-bit."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import messages
    from uforwarder_spark.operators.controller import system_load_ratio

    msg_cols = [
        "msg_offset", "topic", "part_id", "ts", "size_bytes",
        "payload_value", "outcome", "retry_count", "acked", "latency_ms",
    ]
    msg_schema = (
        "msg_offset long, topic string, part_id long, ts timestamp, "
        "size_bytes long, payload_value double, outcome string, "
        "retry_count long, acked boolean, latency_ms long"
    )
    m_pdf = messages(spark, SF_SMALL).toPandas()[msg_cols]
    rows = list(m_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame([r for r, c in zip(rows, assignment) if c == k], columns=msg_cols)
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [m_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e30rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(msg_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.system_load_pipeline(stream, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], msg_schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [f"{tmp}/state/jobs/batch_id={bid}", f"{tmp}/state/load/batch_id={bid}"]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], msg_schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/load")
    cols = ["topic", "n_jobs", "n_capped", "demand_micro", "system_load", "utilization"]
    got = (
        spark.read.parquet(f"{tmp}/state/load/batch_id={last}")
        .select(cols).toPandas().sort_values("topic").reset_index(drop=True)
    )
    want = (
        system_load_ratio(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("topic").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e19_weights_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E19 property: additive per-source totals survive ANY chunking +
    a replayed batch (bit-identical re-write), and the final weight
    table equals batch D39's."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.training import importance_sampling_weights

    docs_pdf = load_parallel(spark, SF_SMALL, "documents").toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.importance_weights_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        ["{tmp}/state/totals/batch_id={bid}", "{tmp}/state/weights/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e19rr",
    )
    last = latest_batch_id(f"{tmp}/state/weights")
    got = (
        spark.read.parquet(f"{tmp}/state/weights/batch_id={last}")
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        importance_sampling_weights(spark, SF_SMALL)
        .toPandas().sort_values("source").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns.tolist()], want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e21_entropy_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E21 property: additive gram counts survive ANY chunking + a
    replayed batch (bit-identical re-write), and the final entropy
    table equals batch D45's."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import ngram_entropy
    from uforwarder_spark.model import load_parallel

    docs_pdf = load_parallel(spark, SF_SMALL, "documents").toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.entropy_monitor_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        [
            "{tmp}/state/uni/batch_id={bid}",
            "{tmp}/state/big/batch_id={bid}",
            "{tmp}/state/entropy/batch_id={bid}",
        ],
        n_chunks, assign_seed, restart_at, "e21rr",
    )
    last = latest_batch_id(f"{tmp}/state/entropy")
    cols = ["source", "n_tokens", "n_bigrams", "unigram_entropy",
            "bigram_entropy", "cond_entropy"]
    got = (
        spark.read.parquet(f"{tmp}/state/entropy/batch_id={last}")
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        ngram_entropy(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e23_hdr_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E23 property: additive HDR bucket counts survive ANY chunking +
    a replayed batch (bit-identical re-write), and the final quantile
    estimates equal batch D54's."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import messages
    from uforwarder_spark.operators.timeseries import hdr_histogram_quantiles

    msg_cols = [
        "msg_offset", "topic", "part_id", "ts", "size_bytes",
        "payload_value", "outcome", "retry_count", "acked", "latency_ms",
    ]
    msg_schema = (
        "msg_offset long, topic string, part_id long, ts timestamp, "
        "size_bytes long, payload_value double, outcome string, "
        "retry_count long, acked boolean, latency_ms long"
    )
    m_pdf = messages(spark, SF_SMALL).toPandas()[msg_cols]
    rows = list(m_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame([r for r, c in zip(rows, assignment) if c == k], columns=msg_cols)
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [m_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e23rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(msg_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.hdr_quantile_pipeline(stream, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], msg_schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [
        f"{tmp}/state/counts/batch_id={bid}",
        f"{tmp}/state/quantiles/batch_id={bid}",
    ]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], msg_schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/quantiles")
    got = {
        (r.topic, round(r.q, 2)): round(r.est, 6)
        for r in spark.read.parquet(f"{tmp}/state/quantiles/batch_id={last}").collect()
    }
    exp = {
        (r.topic, round(r.q, 2)): r.est_value
        for r in hdr_histogram_quantiles(spark, SF_SMALL).collect()
    }
    assert got == exp


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e25_bm25_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E25 property: the accumulated tf/dl index survives ANY chunking
    + a replayed batch (bit-identical re-write), and the final ranking
    equals batch D57's."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import bm25_topk
    from uforwarder_spark.model import load_parallel

    docs_pdf = load_parallel(spark, SF_SMALL, "documents").toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.bm25_index_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        [
            "{tmp}/state/tf/batch_id={bid}",
            "{tmp}/state/dl/batch_id={bid}",
            "{tmp}/state/topk/batch_id={bid}",
        ],
        n_chunks, assign_seed, restart_at, "e25rr",
    )
    last = latest_batch_id(f"{tmp}/state/topk")
    got = {
        r.doc_id: r.bm25_score
        for r in spark.read.parquet(f"{tmp}/state/topk/batch_id={last}").collect()
    }
    exp = {r.doc_id: r.bm25_score for r in bm25_topk(spark, SF_SMALL).collect()}
    assert got == exp


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e28_phash_replay_idempotent_and_matches_batch(
    spark, n_chunks, assign_seed, restart_at
):
    """E28 property: for ANY arrival chunking of the incoming side and
    a replayed batch (re-decided bit-identical against the static
    corpus index), the union of streamed decisions equals batch D65's."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.multimodal import phash_incremental_dedup
    from uforwarder_spark.model import load_table

    d = load_table(spark, SF_SMALL, "documents")
    side = F.expr("CAST(substring(source, 4) AS INT) % 2")
    corpus = d.filter(side == 0)
    incoming_pdf = d.filter(side == 1).toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.phash_dedup_pipeline(stream, corpus, os.path.join(tmp, "out"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, incoming_pdf, make_query, ["{tmp}/out/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e28rr",
    )
    cols = ["doc_id", "phash", "is_exact_dup", "n_corpus_near"]
    got = (
        spark.read.parquet(f"{tmp}/out")
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        phash_incremental_dedup(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 4),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e31_query_serving_replay_idempotent_and_matches_batch(
    spark, n_chunks, assign_seed, restart_at
):
    """E31 property: for ANY chunking of the query workload and a
    replayed batch (re-served bit-identical against the static index),
    the union of streamed pages equals batch D69's."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        QUERY_MOD,
        _emb,
        ann_multiquery_ivf,
    )

    e = _emb(spark, SF_SMALL)
    q_pdf = (
        e.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("qv"))
        .toPandas()
    )
    schema = "qid long, qv array<double>"
    rows = list(q_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame([r for r, c in zip(rows, assignment) if c == k],
                     columns=["qid", "qv"])
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [q_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e31rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.ann_query_serving_pipeline(stream, e, os.path.join(tmp, "out"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    before = _sorted_pdf(spark, f"{tmp}/out/batch_id={bid}")
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], schema, src, now, start_idx=restart_at)
    run_phase()
    pd.testing.assert_frame_equal(
        _sorted_pdf(spark, f"{tmp}/out/batch_id={bid}"), before, check_exact=True
    )

    cols = ["qid", "vec_id", "label", "cosine", "rank"]
    got = (
        spark.read.parquet(f"{tmp}/out")
        .select(cols).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    want = (
        ann_multiquery_ivf(spark, SF_SMALL)
        .select(cols).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e15_incremental_dedup_replay_idempotent_and_matches_batch(
    spark, n_chunks, assign_seed, restart_at
):
    """E15 property: for ANY arrival chunking of the incoming side and a
    replayed batch (re-decided bit-identical against the static corpus
    signature index), the union of streamed decisions equals batch
    D36's."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import incremental_dedup

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    corpus = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
    incoming_pdf = (
        all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
        .toPandas()[DOCS_COLS]
    )

    def make_query(stream, tmp, ckpt):
        return P.incremental_dedup_pipeline(
            stream, corpus, os.path.join(tmp, "out"), ckpt
        )

    tmp, _, _ = _monitor_replay_run(
        spark, incoming_pdf, make_query, ["{tmp}/out/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e15rr",
    )
    cols = ["doc_id", "match_doc_id", "jaccard", "action"]
    got = (
        spark.read.parquet(f"{tmp}/out")
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    exp = (
        incremental_dedup(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(exp) and len(got) > 0
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def _snapshot_fixtures(spark):
    """(events_pdf, prior_df): the D70 deterministic prior + the CDC
    feed (every current doc upserted, every prior-only ghost
    tombstoned) whose drained fold must equal batch D70."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.training import SNAP_REMOVED_OFFSET

    cur = load_parallel(spark, SF_SMALL, "documents").select(
        "doc_id", "source", "text", "n_chars"
    )
    prior = (
        cur.filter(F.col("doc_id") % 10 != 7)
        .select(
            "doc_id",
            "source",
            F.when(
                F.col("doc_id") % 10 == 3,
                F.expr("substr(text, 1, CAST(n_chars DIV 2 AS INT))"),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            cur.filter(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + SNAP_REMOVED_OFFSET).alias("doc_id"),
                "source",
                "text",
            )
        )
    )
    events = (
        cur.select("doc_id", "source", "text", F.lit("upsert").alias("op"))
        .unionByName(
            cur.filter(F.col("doc_id") % 10 == 5).select(
                (F.col("doc_id") + SNAP_REMOVED_OFFSET).alias("doc_id"),
                "source",
                F.lit(None).cast("string").alias("text"),
                F.lit("delete").alias("op"),
            )
        )
    )
    return events.toPandas()[["doc_id", "source", "text", "op"]], prior


EVENTS_SCHEMA = "doc_id long, source string, text string, op string"


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e32_snapshot_diff_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E32 property: the per-(source, status) ledger fold survives ANY
    chunking of the CDC feed + a replayed batch (the injected duplicate
    batchId must re-write bit-identical ledger state), and the drained
    ledger equals batch D70 bit-for-bit."""
    from uforwarder_spark.operators.training import corpus_snapshot_diff
    from tests.conftest import SF_SMALL

    events_pdf, prior = _snapshot_fixtures(spark)
    cols = list(events_pdf.columns)
    rows = list(events_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame([r for r, c in zip(rows, assignment) if c == k], columns=cols)
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [events_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e32rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.snapshot_diff_pipeline(stream, prior, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], EVENTS_SCHEMA, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    path = f"{tmp}/state/ledger/batch_id={bid}"
    before = _sorted_pdf(spark, path)
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], EVENTS_SCHEMA, src, now, start_idx=restart_at)
    run_phase()
    pd.testing.assert_frame_equal(_sorted_pdf(spark, path), before, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/ledger")
    out_cols = ["source", "status", "n_docs", "bytes_delta"]
    got = (
        spark.read.parquet(f"{tmp}/state/ledger/batch_id={last}")
        .select(out_cols).toPandas()
        .sort_values(["source", "status"]).reset_index(drop=True)
    )
    want = (
        corpus_snapshot_diff(spark, SF_SMALL)
        .select(out_cols).toPandas()
        .sort_values(["source", "status"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e33_substring_gate_replay_idempotent_and_matches_batch(
    spark, n_chunks, assign_seed, restart_at
):
    """E33 property: for ANY arrival chunking of the incoming crawl and
    a replayed batch (re-gated bit-identical against the static corpus
    window-hash index), the union of streamed span verdicts equals
    batch D74's."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import incr_substring_dedup

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    corpus = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
    incoming_pdf = (
        all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
        .toPandas()[DOCS_COLS]
    )

    def make_query(stream, tmp, ckpt):
        return P.substring_gate_pipeline(stream, corpus, os.path.join(tmp, "out"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, incoming_pdf, make_query, ["{tmp}/out/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e33rr",
    )
    cols = [
        "doc_id", "n_tokens", "n_dup_windows", "n_spans",
        "n_dup_tokens", "dup_frac", "flagged",
    ]
    got = (
        spark.read.parquet(f"{tmp}/out")
        .select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        incr_substring_dedup(spark, SF_SMALL)
        .select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e34_knn_ingest_replay_idempotent_and_matches_batch(
    spark, n_chunks, assign_seed, restart_at
):
    """E34 property: for ANY arrival chunking of the vector stream and
    a replayed batch (re-scored bit-identical against the static band
    index), the union of streamed edges equals batch D77's."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import _emb, incr_knn_edges

    e = _emb(spark, SF_SMALL)
    existing = e.filter(F.col("vec_id") % 2 == 0)
    incoming_pdf = (
        e.filter(F.col("vec_id") % 2 == 1).select("vec_id", "v").toPandas()
    )
    vec_schema = "vec_id long, v array<double>"
    rows = list(incoming_pdf.itertuples(index=False))
    chunks = []
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    for k in range(n_chunks):
        part = pd.DataFrame(
            [r for r, c in zip(rows, assignment) if c == k], columns=["vec_id", "v"]
        )
        if len(part):
            chunks.append(part)
    chunks = chunks or [incoming_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e34rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(vec_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.knn_ingest_pipeline(stream, existing, os.path.join(tmp, "out"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], vec_schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    path = f"{tmp}/out/batch_id={bid}"
    before = _sorted_pdf(spark, path)
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], vec_schema, src, now, start_idx=restart_at)
    run_phase()
    pd.testing.assert_frame_equal(_sorted_pdf(spark, path), before, check_exact=True)

    cols = ["src", "dst", "rank", "cosine"]
    got = (
        spark.read.parquet(f"{tmp}/out")
        .select(cols).toPandas().sort_values(["src", "rank"]).reset_index(drop=True)
    )
    want = (
        incr_knn_edges(spark, SF_SMALL)
        .select(cols).toPandas().sort_values(["src", "rank"]).reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e35_quality_mixture_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E35 property: the additive (source, decile) counters survive ANY
    chunking + a replayed batch (bit-identical re-write), and the
    drained state equals batch D75 rolled up."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import quality_classifier_score
    from uforwarder_spark.model import load_parallel

    docs_pdf = load_parallel(spark, SF_SMALL, "documents").toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.quality_mixture_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    tmp, ckpt, bid = _monitor_replay_run(
        spark, docs_pdf, make_query, ["{tmp}/state/mix/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e35rr",
    )
    last = latest_batch_id(f"{tmp}/state/mix")
    cols = ["source", "quality_decile", "n_docs", "n_tokens", "n_keep"]
    got = (
        spark.read.parquet(f"{tmp}/state/mix/batch_id={last}")
        .select(cols).toPandas()
        .sort_values(["source", "quality_decile"]).reset_index(drop=True)
    )
    want = (
        quality_classifier_score(spark, SF_SMALL)
        .groupBy("source", "quality_decile")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_keep"),
        )
        .select(cols).toPandas()
        .sort_values(["source", "quality_decile"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e36_index_drift_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E36 property: the per-cell (count, DECIMAL-dist) counters
    survive ANY chunking + a replayed batch (bit-identical re-write),
    and the drained drift table equals batch D79's."""
    from tests.conftest import SF_SMALL
    from tests.test_streaming import _asbuilt_reps
    from uforwarder_spark.operators.similarity import _emb, index_drift_stats

    e = _emb(spark, SF_SMALL)
    reps = _asbuilt_reps(e)
    vec_pdf = e.select("vec_id", "v").toPandas()
    vec_schema = "vec_id long, v array<double>"
    rows = list(vec_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame([r for r, c in zip(rows, assignment) if c == k], columns=["vec_id", "v"])
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [vec_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e36rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(vec_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.index_drift_pipeline(stream, reps, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], vec_schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [f"{tmp}/state/cells/batch_id={bid}", f"{tmp}/state/drift/batch_id={bid}"]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], vec_schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/drift")
    cols = ["cell", "n_members", "mean_sq_dist", "load_share", "drifted", "overloaded"]
    got = (
        spark.read.parquet(f"{tmp}/state/drift/batch_id={last}")
        .select(cols).toPandas().sort_values("cell").reset_index(drop=True)
    )
    want = (
        index_drift_stats(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("cell").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e38_kmv_sketch_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E38 property: per-source bottom-k sketch state survives ANY
    chunking + a replayed batch bit-identically (distinct-union is
    idempotent), and the drained pair estimates equal batch D81's
    estimate columns."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import kmv_sketch_overlap

    docs_pdf = load_parallel(spark, SF_SMALL, "documents").toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.kmv_sketch_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    tmp, ckpt, bid = _monitor_replay_run(
        spark, docs_pdf, make_query,
        ["{tmp}/state/sketch/batch_id={bid}", "{tmp}/state/pairs/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e38rr",
    )
    last = latest_batch_id(f"{tmp}/state/pairs")
    cols = ["src_a", "src_b", "k_used", "kmv_jacc", "kmv_union_est", "kmv_inter_est"]
    got = (
        spark.read.parquet(f"{tmp}/state/pairs/batch_id={last}")
        .select(cols).toPandas()
        .sort_values(["src_a", "src_b"]).reset_index(drop=True)
    )
    want = (
        kmv_sketch_overlap(spark, SF_SMALL)
        .select(cols).toPandas()
        .sort_values(["src_a", "src_b"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    cut_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e40_vocab_growth_replay_idempotent_and_converges(
    spark, n_chunks, cut_seed, restart_at
):
    """E40 property: the vocab/moment state survives an injected
    duplicate batchId (bit-identical re-write) and ANY doc-id-ordered
    chunking (contiguous cuts — the pipeline's per-key ordered-delivery
    contract), and the drained fit table equals batch D84's."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import heaps_vocab_growth
    from uforwarder_spark.model import load_parallel

    docs_pdf = (
        load_parallel(spark, SF_SMALL, "documents")
        .select("source", "doc_id", "text")
        .orderBy("doc_id")
        .toPandas()
    )
    schema = "source string, doc_id long, text string"
    n = len(docs_pdf)
    cuts = sorted(cut_seed.sample(range(1, n), n_chunks - 1))
    bounds = [0] + cuts + [n]
    chunks = [
        docs_pdf.iloc[bounds[i] : bounds[i + 1]]
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e40rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.vocab_growth_pipeline(stream, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [
        f"{tmp}/state/vocab/batch_id={bid}",
        f"{tmp}/state/moments/batch_id={bid}",
        f"{tmp}/state/fit/batch_id={bid}",
    ]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/fit")
    cols = ["source", "n_points", "n_tokens", "n_types", "heaps_beta", "heaps_lnk", "r2"]
    got = (
        spark.read.parquet(f"{tmp}/state/fit/batch_id={last}")
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        heaps_vocab_growth(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e41_zipf_drift_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E41 property: (source, token) count state survives ANY random
    chunking (counts are order-free) plus an injected duplicate batchId
    (bit-identical re-write), and the drained fit equals batch D44."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import zipf_fit
    from uforwarder_spark.model import load_parallel

    docs_pdf = (
        load_parallel(spark, SF_SMALL, "documents")
        .select("source", "doc_id", "text")
        .toPandas()
    )
    schema = "source string, doc_id long, text string"
    rows = list(docs_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame(
            [r for r, c in zip(rows, assignment) if c == k],
            columns=["source", "doc_id", "text"],
        )
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [docs_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e41rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.zipf_drift_pipeline(stream, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [
        f"{tmp}/state/counts/batch_id={bid}",
        f"{tmp}/state/fit/batch_id={bid}",
    ]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/fit")
    cols = ["source", "n_types", "n_tokens", "zipf_slope", "r2"]
    got = (
        spark.read.parquet(f"{tmp}/state/fit/batch_id={last}")
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        zipf_fit(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e43_pmi_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E43 property: the unigram AND pair count states survive ANY
    random chunking (counts are order-free) plus an injected duplicate
    batchId (bit-identical re-write), and the drained top-K PMI table
    equals batch D86."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import pmi_collocations
    from uforwarder_spark.model import load_parallel

    docs_pdf = (
        load_parallel(spark, SF_SMALL, "documents")
        .select("source", "doc_id", "text")
        .toPandas()
    )
    schema = "source string, doc_id long, text string"
    rows = list(docs_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame(
            [r for r, c in zip(rows, assignment) if c == k],
            columns=["source", "doc_id", "text"],
        )
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [docs_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e43rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.pmi_collocation_pipeline(stream, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [
        f"{tmp}/state/uni/batch_id={bid}",
        f"{tmp}/state/pc/batch_id={bid}",
        f"{tmp}/state/topk/batch_id={bid}",
    ]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/topk")
    cols = ["rank", "tok_l", "tok_r", "pair_freq", "freq_l", "freq_r", "pmi"]
    got = (
        spark.read.parquet(f"{tmp}/state/topk/batch_id={last}")
        .select(cols).toPandas().sort_values("rank").reset_index(drop=True)
    )
    want = (
        pmi_collocations(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("rank").reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    cut_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e45_markov_replay_idempotent_and_converges(
    spark, n_chunks, cut_seed, restart_at
):
    """E45 property: the per-user carry + count states survive an
    injected duplicate batchId (bit-identical re-write) and ANY
    time-ordered contiguous chunking (the per-user ordered-delivery
    contract), boundary transitions included, and the drained
    transition table equals batch D91."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_table
    from uforwarder_spark.operators.timeseries import markov_transitions

    ev_pdf = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    n = len(ev_pdf)
    cuts = sorted(cut_seed.sample(range(1, n), n_chunks - 1))
    bounds = [0] + cuts + [n]
    chunks = [
        ev_pdf.iloc[bounds[i] : bounds[i + 1]]
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e45rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.markov_monitor_pipeline(stream, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [
        f"{tmp}/state/carry/batch_id={bid}",
        f"{tmp}/state/counts/batch_id={bid}",
        f"{tmp}/state/table/batch_id={bid}",
    ]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/table")
    cols = ["event_from", "event_to", "n_trans", "from_total", "prob", "rank"]
    got = (
        spark.read.parquet(f"{tmp}/state/table/batch_id={last}")
        .select(cols).toPandas()
        .sort_values(["event_from", "rank"]).reset_index(drop=True)
    )
    want = (
        markov_transitions(spark, SF_SMALL)
        .select(cols).toPandas()
        .sort_values(["event_from", "rank"]).reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    cut_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e46_cusum_replay_idempotent_and_converges(
    spark, n_chunks, cut_seed, restart_at
):
    """E46 property: the minute-count state survives an injected
    duplicate batchId (bit-identical re-write) and ANY time-ordered
    contiguous chunking — INCLUDING cuts that split a minute across
    micro-batches (counts re-merge additively) — and the drained
    trajectory table equals the shared kernel run over the same
    completed-minute prefix with the same frozen reference stats."""
    from pyspark.sql import Window

    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_table
    from uforwarder_spark.operators.timeseries import (
        cusum_fold_from,
        cusum_minute_counts,
        cusum_stats_frame,
    )

    # sf0.001's minute counts are all 1 (sigma=0 -> flat trajectory), so
    # seed one mid-log burst minute to make the alarm branch non-vacuous
    # (the E37 seeded-scenario convention)
    burst = spark.createDataFrame(
        [("click", "2024-01-05 12:00:%02d" % (i % 60), 1_000_000 + i) for i in range(30)],
        ["event_type", "ts_s", "event_id"],
    ).select("event_type", F.col("ts_s").cast("timestamp").alias("ts"), "event_id")
    full = (
        load_table(spark, SF_SMALL, "events")
        .select("event_type", "ts", "event_id")
        .unionByName(burst)
    )
    ev_pdf = full.orderBy("ts", "event_id").toPandas()
    schema = "event_type string, ts timestamp, event_id long"
    n = len(ev_pdf)
    cuts = sorted(cut_seed.sample(range(1, n), n_chunks - 1))
    bounds = [0] + cuts + [n]
    chunks = [
        ev_pdf.iloc[bounds[i] : bounds[i + 1]]
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e46rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def run_phase():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.cusum_monitor_pipeline(stream, full, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [
        f"{tmp}/state/minutes/batch_id={bid}",
        f"{tmp}/state/table/batch_id={bid}",
    ]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/table")
    cols = ["event_type", "n_minutes", "n_alarms", "first_alarm_idx", "max_s", "final_s"]
    got = (
        spark.read.parquet(f"{tmp}/state/table/batch_id={last}")
        .select(cols).toPandas()
        .sort_values("event_type").reset_index(drop=True)
    )
    pm = cusum_minute_counts(full)
    wmax = Window.partitionBy("event_type")
    completed = (
        pm.withColumn("mx", F.max("m").over(wmax))
        .filter(F.col("m") < F.col("mx"))
        .drop("mx")
    )
    want = (
        cusum_fold_from(completed, cusum_stats_frame(pm))
        .select(cols).toPandas()
        .sort_values("event_type").reset_index(drop=True)
    )
    assert len(got) > 0 and (got.n_alarms > 0).any()  # non-vacuous: alarms fire
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e47_doremi_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E47 property: the per-source (n_tok, DECIMAL sum_nll) loss
    state survives ANY random chunking (DECIMAL sums are order-free)
    plus an injected duplicate batchId (bit-identical re-write), and
    the drained mixture equals batch D93 (the LM frozen from the same
    corpus the stream replays)."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import doremi_weights
    from uforwarder_spark.model import load_parallel

    docs_pdf = (
        load_parallel(spark, SF_SMALL, "documents")
        .select("source", "doc_id", "text")
        .toPandas()
    )
    schema = "source string, doc_id long, text string"
    rows = list(docs_pdf.itertuples(index=False))
    assignment = [assign_seed.randrange(n_chunks) for _ in rows]
    chunks = [
        pd.DataFrame(
            [r for r, c in zip(rows, assignment) if c == k],
            columns=["source", "doc_id", "text"],
        )
        for k in range(n_chunks)
    ]
    chunks = [c for c in chunks if len(c)] or [docs_pdf]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e47rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    corpus = load_parallel(spark, SF_SMALL, "documents")

    def run_phase():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.mixture_reweight_pipeline(
            stream, corpus, os.path.join(tmp, "state"), ckpt
        )
        q.awaitTermination(timeout=300)

    _write_chunks(spark, chunks[:restart_at], schema, src, now)
    run_phase()
    bid = _inject_replay(ckpt)
    paths = [
        f"{tmp}/state/loss/batch_id={bid}",
        f"{tmp}/state/weights/batch_id={bid}",
    ]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(spark, chunks[restart_at:], schema, src, now, start_idx=restart_at)
    run_phase()
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    last = latest_batch_id(f"{tmp}/state/weights")
    cols = ["source", "n_tok", "mean_ce", "excess", "weight"]
    got = (
        spark.read.parquet(f"{tmp}/state/weights/batch_id={last}")
        .select(cols).toPandas()
        .sort_values("source").reset_index(drop=True)
    )
    want = (
        doremi_weights(spark, SF_SMALL)
        .select(cols).toPandas()
        .sort_values("source").reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


# --- empty-micro-batch sweep (VERDICT r07 #8) -------------------------------
# A file-source trigger can legitimately deliver ZERO rows (an empty
# file, a filtered-out batch). The batchId-versioned monitors read their
# previous state from batch_id=N-1, so a pipeline that SKIPS writing on
# an empty batch would silently lose its entire state on the next
# trigger — and one that mishandles empty frames could write spurious
# rows. Property: an empty trigger must write batch_id=N state that is
# bit-identical to batch_id=N-1, for every batchId-versioned state
# table the pipeline maintains (discovered by walking the state tree,
# so a pipeline adding a table is covered automatically).

_EMPTY_TRIGGER_MONITORS = [
    ("e19_weights", "importance_weights_pipeline"),
    ("e21_entropy", "entropy_monitor_pipeline"),
    ("e22_hll", "hll_monitor_pipeline"),
    ("e27_dsir", "dsir_model_pipeline"),
    ("e35_quality", "quality_mixture_pipeline"),
    ("e38_kmv", "kmv_sketch_pipeline"),
    ("e40_vocab", "vocab_growth_pipeline"),
    ("e41_zipf", "zipf_drift_pipeline"),
    ("e43_pmi", "pmi_collocation_pipeline"),
]


def _batch_versioned_dirs(state_root):
    """Every directory under state_root that contains batch_id= children."""
    found = []
    for root, dirs, _ in os.walk(state_root):
        if any(d.startswith("batch_id=") for d in dirs):
            found.append(root)
    return found


import pytest  # noqa: E402


@pytest.mark.parametrize("name,pipe", _EMPTY_TRIGGER_MONITORS)
def test_empty_trigger_leaves_state_unchanged(spark, name, pipe):
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs_pdf = (
        load_parallel(spark, SF_SMALL, "documents")
        .toPandas()[DOCS_COLS]
        .sort_values("doc_id")  # E40 needs doc-id-ordered delivery
        .reset_index(drop=True)
    )
    tmp = tempfile.mkdtemp(prefix=f"et_{name}")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    state = os.path.join(tmp, "state")
    now = _time.time() - 1000
    half = len(docs_pdf) // 2
    _write_chunks(
        spark, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]], DOCS_SCHEMA, src, now
    )
    make_query = lambda s: getattr(P, pipe)(s, state, ckpt)  # noqa: E731
    _run_monitor_phase(spark, make_query, src)

    tables = _batch_versioned_dirs(state)
    assert tables, f"{name}: no batchId-versioned state found"
    last = latest_batch_id(*tables)
    before = {t: _sorted_pdf(spark, f"{t}/batch_id={last}") for t in tables}

    # land ONE empty chunk -> one zero-row micro-batch
    _write_chunks(spark, [docs_pdf.iloc[0:0]], DOCS_SCHEMA, src, now, start_idx=2)
    _run_monitor_phase(spark, make_query, src)

    for t, snap in before.items():
        new = f"{t}/batch_id={last + 1}"
        assert os.path.isdir(new), (
            f"{name}: empty trigger wrote no state at {new} — the next "
            "batch would read batch_id=N-1 and silently lose all state"
        )
        pd.testing.assert_frame_equal(_sorted_pdf(spark, new), snap, check_exact=True)


def _empty_trigger_check(spark, chunks_pdf, schema, make_query, prefix,
                         expect_out_dir=None):
    """Shared empty-trigger harness: land the real chunks, drain,
    snapshot every batchId-versioned state table at the last batch id,
    land ONE zero-row chunk, drain again, and assert the empty batch
    wrote batch_id=N+1 state bit-identical to N. With expect_out_dir,
    additionally assert the empty trigger's batchId-keyed output page
    carries zero rows (no spurious decisions)."""
    tmp = tempfile.mkdtemp(prefix=prefix)
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    state = os.path.join(tmp, "state")
    now = _time.time() - 1000
    _write_chunks(spark, chunks_pdf, schema, src, now)

    def run_phase():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        make_query(stream, tmp, ckpt).awaitTermination(timeout=300)

    run_phase()
    tables = _batch_versioned_dirs(state)
    out_root = os.path.join(tmp, "out")
    if expect_out_dir is None:
        assert tables, f"{prefix}: no batchId-versioned state found"
    last = latest_batch_id(*tables, *([out_root] if expect_out_dir else []))
    before = {t: _sorted_pdf(spark, f"{t}/batch_id={last}") for t in tables}
    _write_chunks(
        spark, [chunks_pdf[0].iloc[0:0]], schema, src, now, start_idx=len(chunks_pdf)
    )
    run_phase()
    for t, snap in before.items():
        new = f"{t}/batch_id={last + 1}"
        assert os.path.isdir(new), (
            f"{prefix}: empty trigger wrote no state at {new} — the next "
            "batch would read batch_id=N-1 and silently lose all state"
        )
        pd.testing.assert_frame_equal(_sorted_pdf(spark, new), snap, check_exact=True)
    if expect_out_dir:
        page = os.path.join(out_root, f"batch_id={last + 1}")
        if os.path.isdir(page):
            assert spark.read.parquet(page).count() == 0, (
                f"{prefix}: empty trigger produced spurious output rows"
            )


def test_empty_trigger_e30_system_load(spark):
    """E30 empty-trigger property over the message-shaped stream."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import messages

    msg_cols = [
        "msg_offset", "topic", "part_id", "ts", "size_bytes",
        "payload_value", "outcome", "retry_count", "acked", "latency_ms",
    ]
    msg_schema = (
        "msg_offset long, topic string, part_id long, ts timestamp, "
        "size_bytes long, payload_value double, outcome string, "
        "retry_count long, acked boolean, latency_ms long"
    )
    m_pdf = messages(spark, SF_SMALL).toPandas()[msg_cols]
    half = len(m_pdf) // 2
    _empty_trigger_check(
        spark, [m_pdf.iloc[:half], m_pdf.iloc[half:]], msg_schema,
        lambda s, tmp, ckpt: P.system_load_pipeline(s, os.path.join(tmp, "state"), ckpt),
        "et_e30",
    )


def test_empty_trigger_e45_markov(spark):
    """E45 empty-trigger property: the per-user carry state in
    particular must survive an empty batch — losing it would silently
    drop every boundary transition afterwards."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_table

    ev_pdf = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    half = len(ev_pdf) // 2
    _empty_trigger_check(
        spark, [ev_pdf.iloc[:half], ev_pdf.iloc[half:]], schema,
        lambda s, tmp, ckpt: P.markov_monitor_pipeline(
            s, os.path.join(tmp, "state"), ckpt
        ),
        "et_e45",
    )


def test_empty_trigger_e46_cusum(spark):
    """E46 empty-trigger property: minute counts, trajectory table and
    the untracked surface must all re-derive unchanged."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_table

    full = load_table(spark, SF_SMALL, "events").select("event_type", "ts")
    ev_pdf = full.orderBy("ts").toPandas()
    schema = "event_type string, ts timestamp"
    half = len(ev_pdf) // 2
    _empty_trigger_check(
        spark, [ev_pdf.iloc[:half], ev_pdf.iloc[half:]], schema,
        lambda s, tmp, ckpt: P.cusum_monitor_pipeline(
            s, full, os.path.join(tmp, "state"), ckpt
        ),
        "et_e46",
    )


def test_empty_trigger_e47_doremi(spark):
    """E47 empty-trigger property: per-source loss state and the
    re-derived mixture weights unchanged."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]
    half = len(docs_pdf) // 2
    _empty_trigger_check(
        spark, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]], DOCS_SCHEMA,
        lambda s, tmp, ckpt: P.mixture_reweight_pipeline(
            s, docs, os.path.join(tmp, "state"), ckpt
        ),
        "et_e47",
    )


def test_empty_trigger_e29_gate_no_spurious_rows(spark):
    """E29 (stateless gate) empty-trigger property: a zero-row batch
    must emit zero decision rows into its batchId-keyed page."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]
    half = len(docs_pdf) // 2
    _empty_trigger_check(
        spark, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]], DOCS_SCHEMA,
        lambda s, tmp, ckpt: P.contamination_gate_pipeline(
            s, docs, os.path.join(tmp, "out"), ckpt
        ),
        "et_e29",
        expect_out_dir=True,
    )


def test_empty_trigger_e23_hdr(spark):
    """E23 empty-trigger property over the message-shaped stream."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import messages

    msg_cols = [
        "msg_offset", "topic", "part_id", "ts", "size_bytes",
        "payload_value", "outcome", "retry_count", "acked", "latency_ms",
    ]
    msg_schema = (
        "msg_offset long, topic string, part_id long, ts timestamp, "
        "size_bytes long, payload_value double, outcome string, "
        "retry_count long, acked boolean, latency_ms long"
    )
    m_pdf = messages(spark, SF_SMALL).toPandas()[msg_cols]
    half = len(m_pdf) // 2
    _empty_trigger_check(
        spark, [m_pdf.iloc[:half], m_pdf.iloc[half:]], msg_schema,
        lambda s, tmp, ckpt: P.hdr_quantile_pipeline(
            s, os.path.join(tmp, "state"), ckpt
        ),
        "et_e23",
    )


def test_empty_trigger_e25_bm25(spark):
    """E25 empty-trigger property: postings/length index unchanged."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs_pdf = load_parallel(spark, SF_SMALL, "documents").toPandas()[DOCS_COLS]
    half = len(docs_pdf) // 2
    _empty_trigger_check(
        spark, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]], DOCS_SCHEMA,
        lambda s, tmp, ckpt: P.bm25_index_pipeline(
            s, os.path.join(tmp, "state"), ckpt
        ),
        "et_e25",
    )


def test_empty_trigger_e32_snapshot_diff(spark):
    """E32 empty-trigger property: the CDC ledger must survive a
    zero-event trigger unchanged."""
    events_pdf, prior = _snapshot_fixtures(spark)
    half = len(events_pdf) // 2
    _empty_trigger_check(
        spark, [events_pdf.iloc[:half], events_pdf.iloc[half:]], EVENTS_SCHEMA,
        lambda s, tmp, ckpt: P.snapshot_diff_pipeline(
            s, prior, os.path.join(tmp, "state"), ckpt
        ),
        "et_e32",
    )


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e50_fertility_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E50 property: the per-source additive sums survive ANY chunking
    + a replayed batch (bit-identical re-write), and the drained ratio
    table equals batch D98 bit-for-bit (frozen same-corpus
    segmentation ⇒ the OOV branch never fires on the published
    corpus)."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import bpe_apply_fertility
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.bpe_fertility_pipeline(stream, docs, os.path.join(tmp, "state"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        ["{tmp}/state/fert/batch_id={bid}", "{tmp}/state/ratios/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e50rr",
    )
    last = latest_batch_id(f"{tmp}/state/ratios")
    cols = [
        "source", "n_docs", "ws_tokens", "bpe_tokens", "n_chars",
        "fertility", "chars_per_token",
    ]
    got = (
        spark.read.parquet(f"{tmp}/state/ratios/batch_id={last}")
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        bpe_apply_fertility(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_empty_trigger_e50_fertility(spark):
    """E50 empty-trigger property."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]
    half = len(docs_pdf) // 2
    _empty_trigger_check(
        spark, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]], DOCS_SCHEMA,
        lambda s, tmp, ckpt: P.bpe_fertility_pipeline(
            s, docs, os.path.join(tmp, "state"), ckpt
        ),
        "et_e50",
    )


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e51_unigram_fertility_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E51 property: per-source additive sums survive ANY chunking + a
    replayed batch, and the drained ratio table equals batch D100
    bit-for-bit (frozen same-corpus model; integer sums exact)."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import unigram_lm_fertility
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.unigram_fertility_pipeline(
            stream, docs, os.path.join(tmp, "state"), ckpt
        )

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        ["{tmp}/state/fert/batch_id={bid}", "{tmp}/state/ratios/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e51rr",
    )
    last = latest_batch_id(f"{tmp}/state/ratios")
    cols = [
        "source", "n_docs", "ws_tokens", "sp_tokens", "n_chars",
        "fertility", "chars_per_token",
    ]
    got = (
        spark.read.parquet(f"{tmp}/state/ratios/batch_id={last}")
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        unigram_lm_fertility(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e51_oov_words_segment_exactly(spark):
    """E51 OOV exactness: a live batch containing words the trained
    model never saw must report the model's TRUE Viterbi segmentation
    (the per-trigger unseen-word kernel pass), not a fallback bound —
    checked against the pure-Python Viterbi under the same collected
    model."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import (
        SP_MAXL,
        _sp_words_frame,
        sp_train_frames,
    )
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    final = sp_train_frames(_sp_words_frame(docs))
    vocab = {r["piece"]: r["lp"] for r in final.select("piece", "lp").collect()}

    from uforwarder_spark.functions.text import UNK_LP_MICRO

    def viterbi_n(word):
        n = len(word)
        best = [(0, 0)] + [None] * n
        for k in range(1, n + 1):
            b = None
            for l in range(1, min(SP_MAXL, k) + 1):
                v = vocab.get(word[k - l : k])
                if v is None or best[k - l] is None:
                    continue
                cand = (best[k - l][0] + v, l)
                if b is None or cand > b:
                    b = cand
            if b is None:  # unseen char: the kernel's unk floor
                b = (best[k - 1][0] + UNK_LP_MICRO, 1)
            best[k] = b
        cnt, k = 0, n
        while k > 0:
            k -= best[k][1]
            cnt += 1
        return cnt

    # concatenations = unseen WORDS; 'zx' chars are outside the trained
    # CHARSET entirely (the corpus alphabet has no x/z) — the unk-floor
    # path that previously crashed the backtrace
    oov_text = "thequery queryjoin hashhash zxhash"
    oov_words = oov_text.split()
    want_sp = sum(viterbi_n(w) for w in oov_words)
    pdf = pd.DataFrame(
        [(900001, oov_text, "en", "oov", len(oov_text))],
        columns=DOCS_COLS,
    )
    tmp = tempfile.mkdtemp(prefix="e51oov")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    _write_chunks(spark, [pdf], DOCS_SCHEMA, src, _time.time() - 1000)
    stream = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    q = P.unigram_fertility_pipeline(stream, docs, os.path.join(tmp, "state"), ckpt)
    q.awaitTermination(timeout=300)
    last = latest_batch_id(f"{tmp}/state/ratios")
    row = (
        spark.read.parquet(f"{tmp}/state/ratios/batch_id={last}")
        .filter(F.col("source") == "oov")
        .collect()[0]
    )
    assert row.ws_tokens == len(oov_words)
    assert row.sp_tokens == want_sp
    assert row.n_chars == sum(len(w) for w in oov_words)


def test_empty_trigger_e51_unigram_fertility(spark):
    """E51 empty-trigger property."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]
    half = len(docs_pdf) // 2
    _empty_trigger_check(
        spark, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]], DOCS_SCHEMA,
        lambda s, tmp, ckpt: P.unigram_fertility_pipeline(
            s, docs, os.path.join(tmp, "state"), ckpt
        ),
        "et_e51",
    )


# --- ordered-delivery contract (VERDICT r08 #2) ------------------------------
def test_ordered_delivery_contract_enforced(spark):
    """E24/E26/E45 ordered-delivery contract: the stateful machines'
    batch-equality proofs hold under per-user ordered delivery — real
    Kafka guarantees order per PARTITION only, so a topic NOT keyed by
    user could deliver a user's events out of order across triggers.
    That case must be a HARD ERROR naming the contract, never a silent
    divergence from the batch twin: each pipeline here receives a
    within-user out-of-order delivery ACROSS chunk boundaries (chunk 2
    carries an event that precedes chunk 1's) and must fail its query
    with the contract message. In-order chunked delivery of the same
    machines stays bit-equal to batch (the randomized replay tests
    above)."""
    import pytest

    import datetime as dt

    def expect_violation(chunks, schema, transform, tag):
        tmp = tempfile.mkdtemp(prefix=f"ooo_{tag}")
        src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
        _write_chunks(spark, chunks, schema, src, _time.time() - 1000)
        with pytest.raises(Exception, match="ordered-delivery contract"):
            _run_phase(spark, transform, schema, src, ckpt, "append", [])

    # E24 funnel: user 0's chunk-2 event_id (5) precedes chunk-1's (10).
    cols = ["user_id", "event_id", "event_type"]
    schema = "user_id long, event_id long, event_type string"
    expect_violation(
        [
            pd.DataFrame([(0, 10, "view"), (1, 11, "view")], columns=cols),
            pd.DataFrame([(0, 5, "click"), (1, 12, "click")], columns=cols),
        ],
        schema,
        P.funnel_stream,
        "e24",
    )

    # E26 as-of: same disorder shape, value column present.
    cols_v = ["user_id", "event_id", "event_type", "value"]
    schema_v = "user_id long, event_id long, event_type string, value double"
    expect_violation(
        [
            pd.DataFrame([(0, 10, "view", 1.0), (1, 11, "view", 1.0)], columns=cols_v),
            pd.DataFrame(
                [(0, 5, "purchase", 9.0), (1, 12, "purchase", 2.0)], columns=cols_v
            ),
        ],
        schema_v,
        P.asof_stream,
        "e26",
    )

    # E45 markov: user 0's chunk-2 (ts, event_id) precedes the carried
    # last-seen from chunk 1 — the foreachBatch guard raises at scan.
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    cols_m = ["user_id", "ts", "event_id", "event_type"]
    schema_m = "user_id long, ts timestamp, event_id long, event_type string"
    m_chunks = [
        pd.DataFrame(
            [(0, t0 + dt.timedelta(minutes=9), 10, "view"),
             (1, t0 + dt.timedelta(minutes=9), 11, "view")],
            columns=cols_m,
        ),
        pd.DataFrame(
            [(0, t0 + dt.timedelta(minutes=1), 5, "click"),
             (1, t0 + dt.timedelta(minutes=10), 12, "click")],
            columns=cols_m,
        ),
    ]
    tmp = tempfile.mkdtemp(prefix="ooo_e45")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    _write_chunks(spark, m_chunks, schema_m, src, _time.time() - 1000)
    stream = (
        spark.readStream.schema(schema_m)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    with pytest.raises(Exception, match="ordered-delivery contract"):
        q = P.markov_monitor_pipeline(stream, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)


def test_markov_reorder_gate_absorbs_bounded_disorder(spark):
    """E45 + reorder_gate (the VERDICT r08 option-(b) mechanism): a
    stream whose within-user disorder is BOUNDED by W seconds — rows
    shuffled inside W-second buckets, then randomly chunked, so
    disorder crosses trigger boundaries — drains through
    markov_monitor_pipeline(reorder_watermark_s=W) to the EXACT batch
    D91 table. The drain's final watermark advance is a sentinel event
    W+100 s past the real max (one lone event = zero transitions, so
    the batch table is unchanged); without the gate this same delivery
    trips the ordered-delivery guard."""
    import random

    import datetime as dt  # noqa: F401  (parity with sibling tests)

    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_table
    from uforwarder_spark.operators.timeseries import markov_transitions

    W = 600
    ev_pdf = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "ts", "event_id", "event_type")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    rng = random.Random(4501)
    # shuffle WITHIN W-second buckets: arrival disorder ≤ W by construction
    bucket = (ev_pdf["ts"].astype("int64") // 10**9 // W).to_numpy()
    idx = []
    start = 0
    for i in range(1, len(ev_pdf) + 1):
        if i == len(ev_pdf) or bucket[i] != bucket[start]:
            blk = list(range(start, i))
            rng.shuffle(blk)
            idx.extend(blk)
            start = i
    shuffled = ev_pdf.iloc[idx].reset_index(drop=True)
    n = len(shuffled)
    # force one chunk cut between a within-user inversion pair so the
    # disorder provably crosses a trigger boundary (a cut elsewhere
    # would let the fold's intra-batch sort absorb it and the gate-off
    # leg below would vacuously pass)
    last_pos: dict[int, int] = {}
    inv_cut = None
    for i in range(n):
        r = shuffled.iloc[i]
        u = int(r["user_id"])
        if u in last_pos and inv_cut is None:
            p = shuffled.iloc[last_pos[u]]
            if (r["ts"], r["event_id"]) < (p["ts"], p["event_id"]):
                inv_cut = i  # boundary lands between the inverted pair
        last_pos[u] = i
    assert inv_cut is not None, "seeded shuffle produced no within-user inversion"
    cuts = sorted(set(rng.sample(range(1, n), 11)) | {inv_cut})
    bounds = [0] + cuts + [n]
    chunks = [
        shuffled.iloc[bounds[i] : bounds[i + 1]]
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]
    sentinel_ts = ev_pdf["ts"].max() + pd.Timedelta(seconds=W + 100)
    chunks.append(
        pd.DataFrame(
            [(10**9, sentinel_ts, 10**12, "view")],
            columns=["user_id", "ts", "event_id", "event_type"],
        )
    )
    schema = "user_id long, ts timestamp, event_id long, event_type string"

    def drain(tag, **kw):
        tmp = tempfile.mkdtemp(prefix=tag)
        src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
        _write_chunks(spark, chunks, schema, src, _time.time() - 1000)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        q = P.markov_monitor_pipeline(stream, os.path.join(tmp, "state"), ckpt, **kw)
        q.awaitTermination(timeout=300)
        last = latest_batch_id(f"{tmp}/state/table")
        return spark.read.parquet(f"{tmp}/state/table/batch_id={last}")

    cols = ["event_from", "event_to", "n_trans", "from_total", "prob", "rank"]
    got = (
        drain("e45gate", reorder_watermark_s=W)
        .select(cols).toPandas()
        .sort_values(["event_from", "rank"]).reset_index(drop=True)
    )
    want = (
        markov_transitions(spark, SF_SMALL)
        .select(cols).toPandas()
        .sort_values(["event_from", "rank"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_exact=True)

    # composition: gate OFF, same bounded-disorder delivery → the
    # enforced contract guard fires (proves the gate, not luck, is
    # what restored equality above)
    import pytest

    with pytest.raises(Exception, match="ordered-delivery contract"):
        drain("e45nogate")


def test_markov_reorder_gate_beyond_watermark_still_fails_fast(spark):
    """Gate + guard composition on > W lateness: an event arriving
    AFTER the stream max already passed its ts + W is beyond what the
    gate promises to absorb — it must flow through and trip the
    enforced ordered-delivery contract, never silently fold."""
    import datetime as dt

    import pytest

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    cols = ["user_id", "ts", "event_id", "event_type"]
    chunks = [
        pd.DataFrame(
            [
                (0, t0, 1, "view"),
                (0, t0 + dt.timedelta(minutes=5), 2, "click"),
                (1, t0 + dt.timedelta(minutes=30), 3, "view"),
            ],
            columns=cols,
        ),
        # user 0's 12:01 event arrives after max reached 12:30 — 29 min
        # late against W=60 s: released immediately (wm=12:39), sorts
        # before the carried 12:05 → contract error
        pd.DataFrame(
            [
                (0, t0 + dt.timedelta(minutes=1), 4, "purchase"),
                (2, t0 + dt.timedelta(minutes=40), 5, "view"),
            ],
            columns=cols,
        ),
    ]
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    tmp = tempfile.mkdtemp(prefix="e45late")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    _write_chunks(spark, chunks, schema, src, _time.time() - 1000)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    with pytest.raises(Exception, match="ordered-delivery contract"):
        q = P.markov_monitor_pipeline(
            stream, os.path.join(tmp, "state"), ckpt, reorder_watermark_s=60
        )
        q.awaitTermination(timeout=300)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e52_wordpiece_fertility_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E52 property: per-source additive sums survive ANY chunking + a
    replayed batch (bit-identical re-write), and the drained ratio
    table equals batch D102 bit-for-bit (frozen same-corpus WordPiece
    segmentation ⇒ the OOV branch never fires on the published
    corpus)."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import wordpiece_apply_fertility
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.wordpiece_fertility_pipeline(
            stream, docs, os.path.join(tmp, "state"), ckpt
        )

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        ["{tmp}/state/fert/batch_id={bid}", "{tmp}/state/ratios/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e52rr",
    )
    last = latest_batch_id(f"{tmp}/state/ratios")
    cols = [
        "source", "n_docs", "ws_tokens", "wp_tokens", "n_chars",
        "fertility", "chars_per_token",
    ]
    got = (
        spark.read.parquet(f"{tmp}/state/ratios/batch_id={last}")
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    want = (
        wordpiece_apply_fertility(spark, SF_SMALL)
        .select(cols).toPandas().sort_values("source").reset_index(drop=True)
    )
    assert len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_empty_trigger_e52_fertility(spark):
    """E52 empty-trigger property."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs = load_parallel(spark, SF_SMALL, "documents")
    docs_pdf = docs.toPandas()[DOCS_COLS]
    half = len(docs_pdf) // 2
    _empty_trigger_check(
        spark, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]], DOCS_SCHEMA,
        lambda s, tmp, ckpt: P.wordpiece_fertility_pipeline(
            s, docs, os.path.join(tmp, "state"), ckpt
        ),
        "et_e52",
    )


def test_funnel_asof_reorder_buffer_absorbs_bounded_disorder(spark):
    """E24/E26 option-(b): the count-bounded per-user reorder buffer
    (reorder_last_n=B) absorbs any within-user disorder of positional
    displacement ≤ B — proven by delivering sf0.001 events shuffled
    inside B-sized blocks of the global event_id order (per-user
    displacement ≤ B−1), randomly chunked with a FORCED within-user
    cross-chunk inversion. The machines' appended output must equal a
    pure-Python plain fold over each user's all-but-min(B, n)-newest
    prefix (held residue = exactly the B newest per user — the
    completed-prefix convention, proven by induction in the machine
    docstring); the SAME delivery through the plain machines trips the
    enforced contract, proving the buffer (not luck) absorbed it."""
    import random

    import pytest

    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_table

    B = 8
    ev = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("event_id")
        .toPandas()
    )
    rng = random.Random(2426)
    idx = list(range(len(ev)))
    for s in range(0, len(idx), B):
        blk = idx[s : s + B]
        rng.shuffle(blk)
        idx[s : s + B] = blk
    sh = ev.iloc[idx].reset_index(drop=True)
    n = len(sh)
    # force a cut between a within-user inversion pair (as in the E45
    # gate test) so the disorder provably crosses a trigger boundary
    last_pos: dict[int, int] = {}
    inv_cut = None
    for i in range(n):
        r = sh.iloc[i]
        u = int(r["user_id"])
        if u in last_pos and inv_cut is None and r["event_id"] < sh.iloc[last_pos[u]]["event_id"]:
            inv_cut = i
        last_pos[u] = i
    assert inv_cut is not None
    cuts = sorted(set(rng.sample(range(1, n), 9)) | {inv_cut})
    bounds = [0] + cuts + [n]
    chunks = [
        sh.iloc[bounds[i] : bounds[i + 1]]
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]
    schema = "user_id long, event_id long, event_type string, value double"

    # pure-Python expected folds over the per-user truncated prefixes
    from collections import defaultdict

    byu = defaultdict(list)
    for r in ev.itertuples(index=False):
        byu[int(r.user_id)].append((int(r.event_id), r.event_type, float(r.value)))
    want_funnel, want_asof = set(), set()
    for u, seq in byu.items():
        seq.sort()
        pref = seq[: -min(B, len(seq))] if len(seq) else []
        e1 = e2 = e3 = None
        last_view = None
        for eid, et, val in pref:
            if e1 is None and et == "view":
                e1 = eid
                want_funnel.add((u, 1, eid))
            elif e1 is not None and e2 is None and et == "click" and eid > e1:
                e2 = eid
                want_funnel.add((u, 2, eid))
            elif e2 is not None and e3 is None and et == "purchase" and eid > e2:
                e3 = eid
                want_funnel.add((u, 3, eid))
            if et == "view":
                last_view = eid
            elif et == "purchase":
                want_asof.add(
                    (u, eid, val, last_view,
                     None if last_view is None else eid - last_view)
                )

    def run(transform, tag):
        tmp = tempfile.mkdtemp(prefix=tag)
        src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
        _write_chunks(spark, chunks, schema, src, _time.time() - 1000)
        collected = []
        _run_phase(spark, transform, schema, src, ckpt, "append", collected)
        return [tuple(r) for _bid, rows in collected for r in rows]

    got_f = run(lambda s: P.funnel_stream(s, reorder_last_n=B), "e24rb")
    assert len(got_f) == len(set(got_f))  # append-only, never revised
    assert set(got_f) == want_funnel

    got_a = run(lambda s: P.asof_stream(s, reorder_last_n=B), "e26rb")
    assert len(got_a) == len(set(got_a))
    assert set(got_a) == want_asof

    # the same delivery through the PLAIN machines violates the contract
    for transform, tag in [
        (P.funnel_stream, "e24rb_no"),
        (P.asof_stream, "e26rb_no"),
    ]:
        tmp = tempfile.mkdtemp(prefix=tag)
        src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
        _write_chunks(spark, chunks, schema, src, _time.time() - 1000)
        with pytest.raises(Exception, match="ordered-delivery contract"):
            _run_phase(spark, transform, schema, src, ckpt, "append", [])


def test_reorder_gate_equal_ts_at_watermark_boundary(spark):
    """Review-pass regression (strictness of the gate's release): two
    equal-second events with inverted event_ids, the earlier-id one
    arriving a trigger later, with the first trigger's max placing
    them EXACTLY at the watermark — 0 seconds of disorder, squarely
    inside the ≤ W promise. A ≤-release would emit (ts,5) before
    (ts,4) and crash the fold's guard; the strict < holds both until
    the watermark passes them and the drain equals batch D91."""
    import datetime as dt

    from uforwarder_spark.operators.timeseries import (
        markov_pairs_frame,
        markov_table_from,
    )
    from pyspark.sql import functions as F

    W = 600
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    cols = ["user_id", "ts", "event_id", "event_type"]
    chunks = [
        # max ts = t0+600 → wm = t0 exactly; (t0, 5) must be HELD
        pd.DataFrame(
            [(1, t0, 5, "view"), (2, t0 + dt.timedelta(seconds=W), 6, "view")],
            columns=cols,
        ),
        pd.DataFrame([(1, t0, 4, "view")], columns=cols),
        # sentinel advances the watermark past everything
        pd.DataFrame(
            [(3, t0 + dt.timedelta(seconds=2 * W + 100), 7, "view")], columns=cols
        ),
    ]
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    tmp = tempfile.mkdtemp(prefix="e45wmb")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    _write_chunks(spark, chunks, schema, src, _time.time() - 1000)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    q = P.markov_monitor_pipeline(
        stream, os.path.join(tmp, "state"), ckpt, reorder_watermark_s=W
    )
    q.awaitTermination(timeout=300)
    last = latest_batch_id(f"{tmp}/state/table")
    got = sorted(
        map(
            tuple,
            spark.read.parquet(f"{tmp}/state/table/batch_id={last}")
            .select("event_from", "event_to", "n_trans")
            .collect(),
        )
    )
    all_ev = spark.createDataFrame(pd.concat(chunks), schema)
    want = sorted(
        map(
            tuple,
            markov_table_from(
                markov_pairs_frame(all_ev)
                .groupBy("event_from", "event_to")
                .agg(F.count("*").cast("bigint").alias("n_trans"))
            )
            .select("event_from", "event_to", "n_trans")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_reorder_last_n_rejects_degenerate_buffer(spark):
    """Review-pass regression: reorder_last_n=0 would release nothing
    forever while held state grows unbounded — rejected at plan-build
    for both machines."""
    import pytest

    stream = spark.readStream.format("rate").load()
    for bad in (0, -2):
        with pytest.raises(ValueError, match="reorder_last_n must be >= 1"):
            P.funnel_stream(stream, reorder_last_n=bad)
        with pytest.raises(ValueError, match="reorder_last_n must be >= 1"):
            P.asof_stream(stream, reorder_last_n=bad)


def test_e45_redelivery_of_carried_event_fails_fast(spark):
    """Review-pass regression (guard strictness): an at-least-once
    redelivery of the user's already-folded carried event — EXACTLY
    equal (ts, event_id) in a later trigger — must trip the contract
    (the previous >= accepted it and extracted a spurious
    self-transition, silently double-counting), matching E24/E26's
    <= max_eid semantics."""
    import datetime as dt

    import pytest

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    cols = ["user_id", "ts", "event_id", "event_type"]
    chunks = [
        pd.DataFrame([(0, t0, 1, "view"), (1, t0, 2, "view")], columns=cols),
        # user 0's (t0, 1) redelivered verbatim
        pd.DataFrame([(0, t0, 1, "view"), (1, t0 + dt.timedelta(minutes=1), 3, "click")], columns=cols),
    ]
    schema = "user_id long, ts timestamp, event_id long, event_type string"
    tmp = tempfile.mkdtemp(prefix="e45dup")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    _write_chunks(spark, chunks, schema, src, _time.time() - 1000)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "f*"))
    )
    with pytest.raises(Exception, match="ordered-delivery contract"):
        q = P.markov_monitor_pipeline(stream, os.path.join(tmp, "state"), ckpt)
        q.awaitTermination(timeout=300)


# --- E24/E26: checkpoint v1->v2 state upgrade -------------------------------
# Pre-contract (round-8) machines, reproduced verbatim so the tests can
# WRITE a genuine v1 checkpoint: same folds as today's machines minus
# the max_eid tracking/guard.
from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: E402
from pyspark.sql.types import (  # noqa: E402
    LongType,
    StructField,
    StructType,
)

_V1_FUNNEL_STATE = StructType(
    [StructField("e1", LongType()), StructField("e2", LongType()), StructField("e3", LongType())]
)
_V1_ASOF_STATE = StructType([StructField("last_view", LongType())])


def _v1_funnel_machine(key, pdfs, state):
    rows = []
    for pdf in pdfs:
        rows.extend(zip((int(x) for x in pdf["event_id"]), pdf["event_type"]))
    rows.sort()
    e1, e2, e3 = state.get if state.exists else (None, None, None)
    out = []
    for eid, et in rows:
        if e1 is None and et == "view":
            e1 = eid
            out.append((key[0], 1, eid))
        elif e1 is not None and e2 is None and et == "click" and eid > e1:
            e2 = eid
            out.append((key[0], 2, eid))
        elif e2 is not None and e3 is None and et == "purchase" and eid > e2:
            e3 = eid
            out.append((key[0], 3, eid))
    state.update((e1, e2, e3))
    yield pd.DataFrame(out, columns=["user_id", "step", "event_id"])


def _v1_funnel_stream(stream):
    from uforwarder_spark.streaming.pipelines import FUNNEL_OUTPUT_SCHEMA

    return stream.groupBy("user_id").applyInPandasWithState(
        _v1_funnel_machine,
        FUNNEL_OUTPUT_SCHEMA,
        _V1_FUNNEL_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def _v1_asof_machine(key, pdfs, state):
    rows = []
    for pdf in pdfs:
        rows.extend(
            zip(
                (int(x) for x in pdf["event_id"]),
                pdf["event_type"],
                (float(x) for x in pdf["value"]),
            )
        )
    rows.sort()
    (last_view,) = state.get if state.exists else (None,)
    out = []
    for eid, et, val in rows:
        if et == "view":
            last_view = eid
        elif et == "purchase":
            out.append(
                (key[0], eid, val, last_view, None if last_view is None else eid - last_view)
            )
    state.update((last_view,))
    yield pd.DataFrame(
        out,
        columns=["user_id", "purchase_id", "purchase_value", "prior_view_id", "id_gap"],
    )


def _v1_asof_stream(stream):
    from uforwarder_spark.streaming.pipelines import ASOF_OUTPUT_SCHEMA

    return stream.groupBy("user_id").applyInPandasWithState(
        _v1_asof_machine,
        ASOF_OUTPUT_SCHEMA,
        _V1_ASOF_STATE,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def test_e24_funnel_checkpoint_upgrade_v1_to_v2(spark):
    """VERDICT r09 #4: a checkpoint written by the pre-contract funnel
    machine upgrades IN PLACE (state gains max_eid; no replay from
    origin) and the production funnel_stream resumes from it — the
    union of pre- and post-upgrade output equals the pure-Python
    first-reach model over the whole event history (batch equality),
    and the enforced ordered-delivery guard is live immediately: a
    post-upgrade event at/below the upgraded max_eid fails fast."""
    from uforwarder_spark.streaming.state_upgrade import (
        upgrade_funnel_checkpoint_v1_to_v2,
    )

    events = [
        # (user, eid, type) — user0 full funnel split across phases;
        # user1 view-only pre-upgrade; user2 appears only post-upgrade;
        # user3 never progresses (error rows exercise None-state upgrade)
        [(0, 0, "view"), (1, 1, "view"), (3, 2, "error")],
        [(0, 3, "click"), (1, 4, "error")],
        # ---- upgrade happens here ----
        [(0, 5, "purchase"), (1, 6, "click"), (2, 7, "view")],
        [(2, 8, "click"), (3, 9, "view")],
    ]
    want = set()
    prog = {}
    for chunk in events:
        for u, eid, et in chunk:
            e1, e2, e3 = prog.get(u, (None, None, None))
            if e1 is None and et == "view":
                e1 = eid
                want.add((u, 1, eid))
            elif e1 is not None and e2 is None and et == "click" and eid > e1:
                e2 = eid
                want.add((u, 2, eid))
            elif e2 is not None and e3 is None and et == "purchase" and eid > e2:
                e3 = eid
                want.add((u, 3, eid))
            prog[u] = (e1, e2, e3)

    cols = ["user_id", "event_id", "event_type"]
    schema = "user_id long, event_id long, event_type string"
    tmp = tempfile.mkdtemp(prefix="e24upg")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000
    collected: list = []
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731

    _write_chunks(spark, [to_pdf(c) for c in events[:2]], schema, src, now)
    _run_phase(spark, _v1_funnel_stream, schema, src, ckpt, "append", collected)

    n = upgrade_funnel_checkpoint_v1_to_v2(spark, ckpt)
    assert n == 3, n  # users 0, 1, 3 had v1 state
    assert os.path.isdir(os.path.join(ckpt, "state", "0.v1-backup"))
    # double-upgrade must refuse (backup present)
    try:
        upgrade_funnel_checkpoint_v1_to_v2(spark, ckpt)
        raise AssertionError("second upgrade did not refuse")
    except ValueError as exc:
        assert "v1-backup" in str(exc)

    _write_chunks(
        spark, [to_pdf(c) for c in events[2:]], schema, src, now, start_idx=2
    )
    _run_phase(spark, P.funnel_stream, schema, src, ckpt, "append", collected)

    got = [
        (int(r.user_id), int(r.step), int(r.event_id))
        for _, rows in collected
        for r in rows
    ]
    assert len(got) == len(set(got)), "a first-reach row fired twice"
    assert set(got) == want

    # the upgraded guard is live: user0's max folded id is 5 — replay 3
    from pyspark.errors.exceptions.captured import StreamingQueryException

    _write_chunks(
        spark, [to_pdf([(0, 3, "click")])], schema, src, now, start_idx=4
    )
    try:
        _run_phase(spark, P.funnel_stream, schema, src, ckpt, "append", collected)
        raise AssertionError("contract guard did not fire post-upgrade")
    except StreamingQueryException as exc:
        assert "ordered-delivery contract violated" in str(exc)


def test_e26_asof_checkpoint_upgrade_v1_to_v2(spark):
    """VERDICT r09 #4, E26 twin: pre-contract as-of checkpoint upgrades
    in place (last_view gains max_eid = last_view) and the production
    asof_stream resumes; full output equals the sequential as-of model,
    and the guard fires on a post-upgrade id at/below the carried
    last_view."""
    from uforwarder_spark.streaming.state_upgrade import (
        upgrade_asof_checkpoint_v1_to_v2,
    )

    events = [
        [(0, 0, "view", 0.0), (1, 1, "purchase", 10.0)],  # u1: purchase w/o view
        [(0, 2, "purchase", 20.0), (1, 3, "view", 0.0)],
        # ---- upgrade ----
        [(0, 4, "purchase", 30.0), (1, 5, "purchase", 40.0)],
        [(2, 6, "purchase", 50.0)],  # post-upgrade-only user, no view
    ]
    want = set()
    last = {}
    for chunk in events:
        for u, eid, et, val in chunk:
            if et == "view":
                last[u] = eid
            else:
                lv = last.get(u)
                want.add((u, eid, val, lv, None if lv is None else eid - lv))

    cols = ["user_id", "event_id", "event_type", "value"]
    schema = "user_id long, event_id long, event_type string, value double"
    tmp = tempfile.mkdtemp(prefix="e26upg")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000
    collected: list = []
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731

    _write_chunks(spark, [to_pdf(c) for c in events[:2]], schema, src, now)
    _run_phase(spark, _v1_asof_stream, schema, src, ckpt, "append", collected)

    n = upgrade_asof_checkpoint_v1_to_v2(spark, ckpt)
    assert n == 2, n  # users 0 and 1 (user 1's purchase emitted, view stored)

    _write_chunks(
        spark, [to_pdf(c) for c in events[2:]], schema, src, now, start_idx=2
    )
    _run_phase(spark, P.asof_stream, schema, src, ckpt, "append", collected)

    got = {
        (
            int(r.user_id),
            int(r.purchase_id),
            float(r.purchase_value),
            None if r.prior_view_id is None else int(r.prior_view_id),
            None if r.id_gap is None else int(r.id_gap),
        )
        for _, rows in collected
        for r in rows
    }
    assert got == want

    from pyspark.errors.exceptions.captured import StreamingQueryException

    _write_chunks(
        spark, [to_pdf([(1, 3, "purchase", 99.0)])], schema, src, now, start_idx=4
    )
    try:
        _run_phase(spark, P.asof_stream, schema, src, ckpt, "append", collected)
        raise AssertionError("contract guard did not fire post-upgrade")
    except StreamingQueryException as exc:
        assert "ordered-delivery contract violated" in str(exc)


# --- E53: live domain-cap admission gate ------------------------------------
@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    cut_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e53_domain_caps_replay_idempotent_and_converges(
    spark, n_chunks, cut_seed, restart_at
):
    """E53 property: under doc_id-CONTIGUOUS chunking (the arrival
    order whose first-come admission coincides with batch keep-first),
    ANY cut points + a mid-stream restart + a replayed batch leave the
    state bit-identical, the drained per-domain counter table equals
    batch D103 bit-for-bit, and the admitted doc_id union equals the
    batch kept set (first CAP URL representatives per domain)."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import (
        DOMAIN_DOC_CAP,
        domain_dedup_caps,
        domain_url_frame,
        domain_url_groups,
    )

    docs_pdf = (
        load_parallel(spark, SF_SMALL, "documents")
        .toPandas()[DOCS_COLS]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    n = len(docs_pdf)
    cuts = sorted(cut_seed.sample(range(1, n), min(n_chunks - 1, n - 1)))
    bounds = [0, *cuts, n]
    chunks = [
        docs_pdf.iloc[bounds[i] : bounds[i + 1]]
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]
    restart_at = min(restart_at, len(chunks))
    tmp = tempfile.mkdtemp(prefix="e53rr")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000

    def make_query(stream):
        return P.domain_caps_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    _write_chunks(spark, chunks[:restart_at], DOCS_SCHEMA, src, now)
    _run_monitor_phase(spark, make_query, src)
    bid = _inject_replay(ckpt)
    paths = [
        f"{tmp}/state/urls/batch_id={bid}",
        f"{tmp}/state/domains/batch_id={bid}",
        f"{tmp}/state/admitted/batch_id={bid}",
    ]
    before = {p: _sorted_pdf(spark, p) for p in paths}
    if chunks[restart_at:]:
        _write_chunks(
            spark, chunks[restart_at:], DOCS_SCHEMA, src, now, start_idx=restart_at
        )
    _run_monitor_phase(spark, make_query, src)
    for p, snap in before.items():
        pd.testing.assert_frame_equal(_sorted_pdf(spark, p), snap, check_exact=True)

    # drained domains table == batch D103, bit-for-bit
    last = latest_batch_id(f"{tmp}/state/domains")
    want = domain_dedup_caps(spark, SF_SMALL).toPandas()
    cols = want.columns.tolist()
    got = (
        spark.read.parquet(f"{tmp}/state/domains/batch_id={last}")
        .toPandas()[cols]
        .sort_values(["source", "domain"])
        .reset_index(drop=True)
    )
    want = want.sort_values(["source", "domain"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_exact=True)

    # admitted union == batch keep-first kept set
    batch_urls = domain_url_groups(
        domain_url_frame(load_parallel(spark, SF_SMALL, "documents"))
    ).collect()
    by_dom = {}
    for r in batch_urls:
        by_dom.setdefault(r.domain, []).append(r.rep_id)
    want_kept = set()
    for dom, reps in by_dom.items():
        want_kept.update(sorted(reps)[:DOMAIN_DOC_CAP])
    got_kept = set()
    for d in os.listdir(f"{tmp}/state/admitted"):
        if d.startswith("batch_id="):
            for r in spark.read.parquet(f"{tmp}/state/admitted/{d}").collect():
                got_kept.add(r.doc_id)
    assert got_kept == want_kept


# --- E54: live multi-epoch budget monitor -----------------------------------
@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e54_multi_epoch_replay_idempotent_and_converges(
    spark, n_chunks, assign_seed, restart_at
):
    """E54 property: additive per-source totals survive ANY chunking +
    a replayed batch (bit-identical re-write), and the final epochs
    table equals batch D104's over the whole corpus."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.training import multi_epoch_token_accounting

    docs_pdf = load_parallel(spark, SF_SMALL, "documents").toPandas()[DOCS_COLS]

    def make_query(stream, tmp, ckpt):
        return P.multi_epoch_monitor_pipeline(stream, os.path.join(tmp, "state"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, docs_pdf, make_query,
        ["{tmp}/state/totals/batch_id={bid}", "{tmp}/state/epochs/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e54rr",
    )
    last = latest_batch_id(f"{tmp}/state/epochs")
    want = multi_epoch_token_accounting(spark, SF_SMALL).toPandas()
    cols = want.columns.tolist()
    got = (
        spark.read.parquet(f"{tmp}/state/epochs/batch_id={last}")
        .toPandas()[cols].sort_values("source").reset_index(drop=True)
    )
    want = want.sort_values("source").reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_e24_e26_checkpoint_upgrade_into_reorder_variant(spark):
    """VERDICT r09 #4 extension: a v1 checkpoint can upgrade DIRECTLY
    into the count-bounded reorder machines (empty held buffers +
    max_eid) — upgrade and buffer-enable in one step. Post-upgrade the
    buffer genuinely absorbs bounded disorder (a swapped pair inside
    reorder_last_n) that the plain machine would fail fast on, and the
    completed-prefix output matches the ordered model."""
    from uforwarder_spark.streaming.state_upgrade import (
        upgrade_asof_checkpoint_v1_to_v2,
        upgrade_funnel_checkpoint_v1_to_v2,
    )

    B = 2
    # ---- E24 funnel ----
    cols = ["user_id", "event_id", "event_type"]
    schema = "user_id long, event_id long, event_type string"
    tmp = tempfile.mkdtemp(prefix="e24upgR")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    now = _time.time() - 1000
    collected: list = []
    to_pdf = lambda c: pd.DataFrame(c, columns=cols)  # noqa: E731
    _write_chunks(
        spark, [to_pdf([(0, 0, "view"), (0, 1, "click")])], schema, src, now
    )
    _run_phase(spark, _v1_funnel_stream, schema, src, ckpt, "append", collected)
    n = upgrade_funnel_checkpoint_v1_to_v2(spark, ckpt, reorder=True)
    assert n == 1
    # disorder within the buffer: purchase id 5 lands BEFORE click id 4
    # (displacement 1 <= B) — the plain machine's guard would trip on a
    # later trigger delivering 4 after 5 was folded; the buffer absorbs
    _write_chunks(
        spark,
        [to_pdf([(0, 5, "purchase"), (0, 4, "error")]),
         to_pdf([(0, 6, "error"), (0, 7, "error"), (0, 8, "error")])],
        schema, src, now, start_idx=1,
    )
    _run_phase(
        spark,
        lambda s: P.funnel_stream(s, reorder_last_n=B),
        schema, src, ckpt, "append", collected,
    )
    got = [
        (int(r.user_id), int(r.step), int(r.event_id))
        for _, rows in collected
        for r in rows
    ]
    # completed prefix: the B newest (7, 8) stay held; purchase 5 released
    assert got == [(0, 1, 0), (0, 2, 1), (0, 3, 5)], got

    # ---- E26 as-of ----
    cols_a = ["user_id", "event_id", "event_type", "value"]
    schema_a = "user_id long, event_id long, event_type string, value double"
    tmp = tempfile.mkdtemp(prefix="e26upgR")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    collected_a: list = []
    to_pdf_a = lambda c: pd.DataFrame(c, columns=cols_a)  # noqa: E731
    _write_chunks(
        spark, [to_pdf_a([(0, 0, "view", 0.0), (0, 1, "purchase", 10.0)])],
        schema_a, src, now,
    )
    _run_phase(spark, _v1_asof_stream, schema_a, src, ckpt, "append", collected_a)
    n = upgrade_asof_checkpoint_v1_to_v2(spark, ckpt, reorder=True)
    assert n == 1
    # view 4 arrives AFTER purchase 5 within the same trigger set but
    # displaced <= B: the buffer re-orders so purchase 5 matches view 4
    _write_chunks(
        spark,
        [to_pdf_a([(0, 5, "purchase", 20.0), (0, 4, "view", 0.0)]),
         to_pdf_a([(0, 6, "error", 0.0), (0, 7, "error", 0.0), (0, 8, "error", 0.0)])],
        schema_a, src, now, start_idx=1,
    )
    _run_phase(
        spark,
        lambda s: P.asof_stream(s, reorder_last_n=B),
        schema_a, src, ckpt, "append", collected_a,
    )
    got_a = sorted(
        (int(r.user_id), int(r.purchase_id), float(r.purchase_value),
         None if r.prior_view_id is None else int(r.prior_view_id))
        for _, rows in collected_a
        for r in rows
    )
    assert got_a == [(0, 1, 10.0, 0), (0, 5, 20.0, 4)], got_a


def test_empty_trigger_e54_multi_epoch(spark):
    """E54 empty-trigger property: totals carry forward and the epochs
    table re-derives bit-identical from them."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs_pdf = load_parallel(spark, SF_SMALL, "documents").toPandas()[DOCS_COLS]
    half = len(docs_pdf) // 2
    _empty_trigger_check(
        spark, [docs_pdf.iloc[:half], docs_pdf.iloc[half:]], DOCS_SCHEMA,
        lambda s, tmp, ckpt: P.multi_epoch_monitor_pipeline(
            s, os.path.join(tmp, "state"), ckpt
        ),
        "et_e54",
    )


def test_empty_trigger_e53_domain_caps(spark):
    """E53 empty-trigger property: the URL ledger and per-domain
    counters carry forward bit-identical, and the empty trigger admits
    NOTHING (its admitted page is empty — unlike the carried state
    tables, admitted is per-batch OUTPUT, so the standard
    all-tables-identical harness does not apply)."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel

    docs_pdf = (
        load_parallel(spark, SF_SMALL, "documents")
        .toPandas()[DOCS_COLS]
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    half = len(docs_pdf) // 2
    chunks = [docs_pdf.iloc[:half], docs_pdf.iloc[half:]]
    tmp = tempfile.mkdtemp(prefix="et_e53")
    src, ckpt = os.path.join(tmp, "src"), os.path.join(tmp, "ckpt")
    state = os.path.join(tmp, "state")
    now = _time.time() - 1000
    _write_chunks(spark, chunks, DOCS_SCHEMA, src, now)

    def run_phase():
        stream = (
            spark.readStream.schema(DOCS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "f*"))
        )
        P.domain_caps_pipeline(stream, state, ckpt).awaitTermination(timeout=300)

    run_phase()
    dom = os.path.join(state, "domains")
    last = latest_batch_id(dom)
    before = _sorted_pdf(spark, f"{dom}/batch_id={last}")
    _write_chunks(spark, [docs_pdf.iloc[0:0]], DOCS_SCHEMA, src, now, start_idx=2)
    run_phase()
    new = f"{dom}/batch_id={last + 1}"
    assert os.path.isdir(new), f"empty trigger wrote no state at {new}"
    pd.testing.assert_frame_equal(_sorted_pdf(spark, new), before, check_exact=True)
    # urls is an APPEND-ONLY per-batch page (not carried state): the
    # empty trigger's page exists and holds zero newly-seen urls
    for t in ("urls", "admitted"):
        page = os.path.join(state, t, f"batch_id={last + 1}")
        assert os.path.isdir(page)
        assert spark.read.parquet(page).count() == 0, (t, "rows on empty trigger")


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e55_sentence_gate_replay_idempotent_and_matches_batch(
    spark, n_chunks, assign_seed, restart_at
):
    """E55 property: for ANY arrival chunking of the incoming crawl and
    a replayed batch (re-gated bit-identical against the static corpus
    sentence-window index), the union of streamed cut verdicts equals
    batch D106's."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import incr_sentence_span_dedup

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    corpus = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
    incoming_pdf = (
        all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
        .toPandas()[DOCS_COLS]
    )

    def make_query(stream, tmp, ckpt):
        return P.sentence_gate_pipeline(stream, corpus, os.path.join(tmp, "out"), ckpt)

    tmp, _, _ = _monitor_replay_run(
        spark, incoming_pdf, make_query, ["{tmp}/out/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e55rr",
    )
    cols = [
        "doc_id", "n_sentences", "n_dup_windows", "n_spans",
        "n_sentences_kept", "n_sentences_cut", "cleaned_md5",
    ]
    got = (
        spark.read.parquet(f"{tmp}/out")
        .select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    want = (
        incr_sentence_span_dedup(spark, SF_SMALL)
        .select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e56_paragraph_gate_replay_idempotent_and_matches_oneshot(
    spark, n_chunks, assign_seed, restart_at
):
    """E56 property: for ANY arrival chunking of the incoming crawl and
    a replayed batch (re-gated bit-identical against the static corpus
    paragraph index), the union of streamed cut verdicts equals the
    one-shot gate over the full crawl."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import (
        incr_sent_span_frame,
        para_frame,
        sent_window_frame,
    )

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    corpus = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 0"))
    incoming_pdf = (
        all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
        .toPandas()[DOCS_COLS]
    )

    def make_query(stream, tmp, ckpt):
        return P.paragraph_gate_pipeline(
            stream, corpus, os.path.join(tmp, "out"), ckpt
        )

    tmp, _, _ = _monitor_replay_run(
        spark, incoming_pdf, make_query, ["{tmp}/out/batch_id={bid}"],
        n_chunks, assign_seed, restart_at, "e56rr",
    )
    cols = [
        "doc_id", "n_paragraphs", "n_dup_windows", "n_spans",
        "n_paragraphs_kept", "n_paragraphs_cut", "cleaned_md5",
    ]
    got = (
        spark.read.parquet(f"{tmp}/out")
        .select(*cols).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    ex_h = sent_window_frame(para_frame(corpus), s=1).select("h").distinct()
    incoming = all_docs.filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
    want = (
        incr_sent_span_frame(para_frame(incoming), ex_h, s=1)
        .select(
            "doc_id",
            F.col("n_sentences").alias("n_paragraphs"),
            "n_dup_windows",
            "n_spans",
            F.col("n_sentences_kept").alias("n_paragraphs_kept"),
            F.col("n_sentences_cut").alias("n_paragraphs_cut"),
            "cleaned_md5",
        )
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert len(got) == len(want) and len(got) > 0
    pd.testing.assert_frame_equal(got, want, check_exact=True)


@settings(**MONITOR_SETTINGS)
@given(
    n_chunks=st.integers(2, 5),
    assign_seed=st.randoms(use_true_random=False),
    restart_at=st.integers(1, 3),
)
def test_e57_curation_gate_replay_idempotent_ledger_disjoint(
    spark, n_chunks, assign_seed, restart_at
):
    """E57 property: for ANY arrival chunking with a mid-stream restart
    and a replayed batch, the replayed batch's ledger page, admitted
    page and accounting page re-materialize bit-identical (the replay
    re-derives from exactly the pre-batch ledger), and the ledger pages
    stay DISJOINT (a hash appears in exactly one page — the append-only
    union is a set)."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.dedup import decon_eval_filter

    all_docs = load_parallel(spark, SF_SMALL, "documents")
    is_eval = decon_eval_filter()
    eval_docs = all_docs.filter(is_eval)
    corpus = all_docs.filter(~is_eval).filter(
        F.expr("CAST(substring(source, 4) AS INT) % 2 = 0")
    )
    incoming_pdf = (
        all_docs.filter(~is_eval)
        .filter(F.expr("CAST(substring(source, 4) AS INT) % 2 = 1"))
        .toPandas()[DOCS_COLS]
    )

    def make_query(stream, tmp, ckpt):
        return P.curation_gate_pipeline(
            stream, corpus, eval_docs, os.path.join(tmp, "state"), ckpt
        )

    tmp, _, _ = _monitor_replay_run(
        spark, incoming_pdf, make_query,
        [
            "{tmp}/state/hashes/batch_id={bid}",
            "{tmp}/state/admitted/batch_id={bid}",
            "{tmp}/state/accounting/batch_id={bid}",
        ],
        n_chunks, assign_seed, restart_at, "e57rr",
    )
    ledger = spark.read.parquet(f"{tmp}/state/hashes")
    assert ledger.count() == ledger.select("h").distinct().count() > 0
