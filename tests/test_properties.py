"""Property-based checks (hypothesis): the frame-level operators agree
with straightforward pure-Python reference models on arbitrary ack
patterns — the state-machine logic holds beyond hand-picked cases.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from uforwarder_spark.operators.pipeline import (
    ack_watermark_frame,
    inflight_limiter_frame,
)

# a partition's history: distinct offsets with ack flags
pattern = st.lists(st.booleans(), min_size=1, max_size=30)


def _frame(spark, acks: list[bool]):
    rows = [("t", 0, off, acked) for off, acked in enumerate(acks)]
    return spark.createDataFrame(rows, ["topic", "part_id", "msg_offset", "acked"])


@settings(max_examples=12, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(acks=pattern)
def test_ack_watermark_equals_reference_model(spark, acks):
    r = ack_watermark_frame(_frame(spark, acks)).collect()[0]
    # reference: committed = last offset of the acked prefix, None if empty
    committed = None
    for off, acked in enumerate(acks):
        if not acked:
            break
        committed = off
    assert r.committed_offset == committed
    assert r.high_watermark == len(acks) - 1
    assert r.n_acked == sum(acks)


@settings(max_examples=12, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(acks=pattern, limit=st.integers(min_value=1, max_value=10))
def test_inflight_limiter_equals_reference_model(spark, acks, limit):
    pending = [off for off, acked in enumerate(acks) if not acked]
    rows = inflight_limiter_frame(_frame(spark, acks), limit=limit).collect()
    if not pending:
        assert rows == []  # nothing unacked → no permits outstanding
        return
    r = rows[0]
    admitted = pending[:limit]
    assert r.n_pending == len(pending)
    assert r.n_admitted == len(admitted)
    assert r.n_blocked == len(pending) - len(admitted)
    assert r.last_admitted_offset == admitted[-1]


@settings(max_examples=10, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    minute_counts=st.lists(st.integers(min_value=0, max_value=25), min_size=1, max_size=6),
    rate=st.integers(min_value=1, max_value=12),
)
def test_rate_limit_equals_reference_model(spark, minute_counts, rate):
    from datetime import datetime, timedelta

    from uforwarder_spark.operators.pipeline import rate_limit_frame

    t0 = datetime(2024, 1, 1)
    rows, off = [], 0
    for m, n in enumerate(minute_counts):
        for _ in range(n):
            rows.append(("t", 0, off, t0 + timedelta(minutes=m)))
            off += 1
    if not rows:
        return
    m = spark.createDataFrame(rows, ["topic", "part_id", "msg_offset", "ts"])
    r = rate_limit_frame(m, rate=rate).collect()[0]
    allowed = sum(min(n, rate) for n in minute_counts)
    assert (r.n_msgs, r.n_allowed, r.n_throttled) == (off, allowed, off - allowed)


@settings(max_examples=10, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(acks=pattern, threshold=st.integers(min_value=1, max_value=10))
def test_hol_blocking_equals_reference_model(spark, acks, threshold):
    from uforwarder_spark.operators.pipeline import hol_blocking_frame

    rows = hol_blocking_frame(_frame(spark, acks), threshold=threshold).collect()
    pending = [off for off, acked in enumerate(acks) if not acked]
    if not pending:
        assert rows == []
        return
    head = pending[0]
    acked_behind = sum(1 for off, acked in enumerate(acks) if acked and off > head)
    r = rows[0]
    assert r.head_offset == head
    assert r.acked_behind_head == acked_behind
    assert bool(r.is_blocked) == (acked_behind >= threshold)


# --- D4 prefix-filter lemma (pure python — no Spark) ------------------------
@settings(max_examples=300, deadline=None, derandomize=True)
@given(
    data=st.data(),
    threshold=st.sampled_from([0.5, 0.8, 0.9]),
)
def test_prefix_filter_lemma(data, threshold):
    """The PPJoin guarantee operators/jaccard.py relies on: under ANY
    global token order, two sets with Jaccard >= t share at least one
    token within both prefixes of length n - ceil(t*n) + 1. If this
    lemma ever failed, the prefix join would silently DROP a qualifying
    pair — the worst failure mode a dedup operator can have."""
    import math

    universe = list(range(30))
    a = data.draw(st.sets(st.sampled_from(universe), min_size=1, max_size=20))
    b = data.draw(st.sets(st.sampled_from(universe), min_size=1, max_size=20))
    union = a | b
    jac = len(a & b) / len(union)
    if jac < threshold:
        return  # lemma only covers qualifying pairs
    order = data.draw(st.permutations(universe))
    rank = {tok: i for i, tok in enumerate(order)}

    def prefix(s):
        k = len(s) - math.ceil(threshold * len(s)) + 1
        return set(sorted(s, key=rank.__getitem__)[:k])

    assert prefix(a) & prefix(b), (
        f"qualifying pair missed: a={sorted(a)} b={sorted(b)} jac={jac:.3f} t={threshold}"
    )


# --- B16: ScaleWindow histogram walk vs a direct port of the Java model ---

def _java_bounded_window(samples, lo, hi, pct):
    """Direct port of ScaleWindow.BoundedWindow (ScaleWindow.java:88):
    100-bucket histogram, ceil index with clamping, percentile read =
    walk to the first bucket where the running count reaches (int)(p*n).
    """
    import math

    n_buckets = 100
    width = (hi - lo) / n_buckets
    buckets = [0] * n_buckets
    for v in samples:
        idx = min(n_buckets - 1, max(0, math.ceil((v - lo) / width)))
        buckets[idx] += 1
    pivot = int(pct * len(samples))
    total = 0
    for idx in range(n_buckets):
        total += buckets[idx]
        if total >= pivot:
            break
    return lo + idx * width


@settings(max_examples=25, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    samples=st.lists(
        st.floats(min_value=0.0, max_value=20.0, allow_nan=False, width=64),
        min_size=1,
        max_size=60,
    ),
    cur_scale=st.floats(min_value=0.1, max_value=8.0, allow_nan=False, width=64),
)
def test_scale_window_sql_equals_java_model(samples, cur_scale):
    """The shared computer CTEs (run in DuckDB on hand samples) must
    reproduce the Java BoundedWindow proposal for every computer,
    including the pivot=0 short-circuit and the clamped bucket ends."""
    import duckdb

    from uforwarder_spark.operators import scaling

    values = ", ".join(f"('t', CAST({s!r} AS DOUBLE), CAST({cur_scale!r} AS DOUBLE))" for s in samples)
    sql = (
        f"WITH samples AS (SELECT * FROM (VALUES {values}) AS s(topic, s, cur_scale)),"
        + scaling._computer_ctes()
        + " SELECT computer, n, proposal, accepted FROM verdicts ORDER BY computer"
    )
    got = {r[0]: r for r in duckdb.connect().execute(sql).fetchall()}

    cases = {
        "up": (cur_scale, 2.0 * cur_scale, scaling.UP_PCT, 1.2 * cur_scale, 2.0 * cur_scale),
        "down": (0.5 * cur_scale, 1.0 * cur_scale, scaling.DOWN_PCT, 0.5 * cur_scale, 0.8 * cur_scale),
        "hib": (0.0, 1.0 * cur_scale, scaling.DOWN_PCT, 0.0, 0.0),
    }
    for comp, (lo, hi, pct, out_lo, out_hi) in cases.items():
        expect = _java_bounded_window(samples, lo, hi, pct)
        _, n, proposal, accepted = got[comp]
        assert n == len(samples)
        assert proposal == expect, (comp, proposal, expect)
        assert accepted == (len(samples) >= scaling.MIN_SAMPLES and out_lo <= expect <= out_hi)


def test_scale_window_hibernate_and_immature():
    """Hand cases: all-zero samples accept hibernation (proposal exactly
    0.0); fewer than MIN_SAMPLES samples never accept."""
    import duckdb

    from uforwarder_spark.operators import scaling

    def run(samples, cur_scale):
        values = ", ".join(
            f"('t', CAST({s!r} AS DOUBLE), CAST({cur_scale!r} AS DOUBLE))" for s in samples
        )
        sql = (
            f"WITH samples AS (SELECT * FROM (VALUES {values}) AS s(topic, s, cur_scale)),"
            + scaling._computer_ctes()
            + " SELECT computer, proposal, accepted FROM verdicts"
        )
        return {r[0]: (r[1], r[2]) for r in duckdb.connect().execute(sql).fetchall()}

    quiet = run([0.0] * 20, 2.0)
    assert quiet["hib"] == (0.0, True)  # zero-traffic group may hibernate
    assert quiet["up"][1] is False

    few = run([3.0] * (scaling.MIN_SAMPLES - 1), 2.0)
    assert all(not accepted for _, accepted in few.values())


@settings(max_examples=12, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    acks=pattern,
    boot_cap=st.integers(min_value=1, max_value=6),
    steady_cap=st.integers(min_value=1, max_value=8),
    threshold=st.integers(min_value=0, max_value=12),
)
def test_inflight_bootstrap_equals_reference_model(spark, acks, boot_cap, steady_cap, threshold):
    """A26 agrees with the BootstrapLongFixedInflightLimiter model on
    arbitrary ack patterns: phase from total completed vs threshold,
    admit under min(boot, steady) in bootstrap else steady."""
    from uforwarder_spark.operators.pipeline import inflight_bootstrap_frame

    rows = inflight_bootstrap_frame(
        _frame(spark, acks), boot_cap=boot_cap, steady_cap=steady_cap, threshold=threshold
    ).collect()
    completed = sum(acks)
    pending = [off for off, acked in enumerate(acks) if not acked]
    working = completed > threshold
    cap = steady_cap if working else min(boot_cap, steady_cap)
    assert len(rows) == 1
    r = rows[0]
    assert r.phase == ("working" if working else "bootstrap")
    assert r.n_completed == completed
    assert r.effective_cap == cap
    assert r.n_pending == len(pending)
    assert r.n_admitted == min(cap, len(pending))
    assert r.n_blocked == max(0, len(pending) - cap)


@settings(max_examples=12, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    spans=st.lists(
        st.tuples(st.integers(min_value=0, max_value=50), st.integers(min_value=1, max_value=20)),
        min_size=1,
        max_size=25,
    ),
    limit=st.integers(min_value=1, max_value=10),
)
def test_inflight_usage_equals_sweep_model(spark, spans, limit):
    """A31 peak concurrency equals a brute-force sweep over the span
    set (half-open [start, end) intervals)."""
    from datetime import datetime, timedelta

    from uforwarder_spark.operators.pipeline import inflight_usage_frame

    t0 = datetime(2024, 1, 1)
    rows = [
        ("t", 0, i, t0 + timedelta(milliseconds=s), True, d)
        for i, (s, d) in enumerate(spans)
    ]
    m = spark.createDataFrame(
        rows, ["topic", "part_id", "msg_offset", "ts", "acked", "latency_ms"]
    )
    r = inflight_usage_frame(m, limit=limit).collect()[0]
    peak = max(
        sum(1 for s, d in spans if s <= t < s + d)
        for t in {s for s, _ in spans}
    )
    assert r.peak_inflight == peak
    assert r.is_critical == (peak / limit > 0.8)


def _hk60(s) -> int:
    """The repo's cross-engine 60-bit md5 key (model.H_SPARK/H_DUCK)."""
    import hashlib

    return int(hashlib.md5(str(s).encode()).hexdigest()[:15], 16)


def _write_docs(tmpdir, rows, spark):
    """rows: (doc_id, text, source) → a documents.parquet the REAL
    registered operators can read."""
    spark.createDataFrame(
        [(d, t, "en", s, len(t)) for d, t, s in rows],
        ["doc_id", "text", "lang", "source", "n_chars"],
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
    return str(tmpdir)


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(toks=st.lists(st.integers(min_value=0, max_value=700), min_size=1, max_size=25))
def test_sequence_packing_equals_python_packer(spark, tmp_path_factory, toks):
    """The REAL sequence_packing operator (tmp corpus → registered fn)
    equals an explicit Python concat-and-chunk packer, shard hashing
    included."""
    from uforwarder_spark.operators.training import (
        N_EXPORT_SHARDS,
        SEQ_TOKEN_BUDGET,
        sequence_packing,
    )

    d = tmp_path_factory.mktemp("pack")
    rows = [(i, "w " * t, "src") for i, t in enumerate(toks)]
    sf = _write_docs(d, rows, spark)
    got = {
        (r.shard, r.seq_id): (r.n_docs, r.sum_tokens, r.n_crossing)
        for r in sequence_packing(spark, sf).collect()
    }

    # independent model: hash to shards, walk each shard's stream
    shards = {}
    for i, t in enumerate(toks):
        hk = _hk60(i)
        shards.setdefault(hk % N_EXPORT_SHARDS, []).append((hk, i, t))
    want = {}
    for shard, docs in shards.items():
        cum = 0
        for _, _, t in sorted(docs):
            seq = cum // SEQ_TOKEN_BUDGET
            last = (cum + t - 1) // SEQ_TOKEN_BUDGET if t > 0 else seq
            n_docs, sum_t, n_cross = want.get((shard, seq), (0, 0, 0))
            want[(shard, seq)] = (n_docs + 1, sum_t + t, n_cross + (last > seq))
            cum += t
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(sizes=st.lists(st.integers(min_value=1, max_value=6), min_size=2, max_size=5))
def test_mixture_interleave_equals_stride_scheduler(spark, tmp_path_factory, sizes):
    """The REAL mixture_interleave operator equals an explicit stride
    scheduler: source s emits its r-th doc (hash order) at r/w(s) with
    w(s) = 1 + hash(s) % N; ties break by (source, doc)."""
    from uforwarder_spark.operators.training import (
        N_MIXTURE_WEIGHTS,
        mixture_interleave,
    )

    d = tmp_path_factory.mktemp("mix")
    rows = []
    doc = 0
    for si, n in enumerate(sizes):
        for _ in range(n):
            rows.append((doc, "x", f"s{si}"))
            doc += 1
    sf = _write_docs(d, rows, spark)
    got = {r.doc_id: (r.position, r.weight) for r in mixture_interleave(spark, sf).collect()}

    sched = []
    per_source = {}
    for doc_id, _, s in rows:
        per_source.setdefault(s, []).append((_hk60(doc_id), doc_id))
    weights = {s: 1 + _hk60(s) % N_MIXTURE_WEIGHTS for s in per_source}
    for s, docs in per_source.items():
        for r, (_, doc_id) in enumerate(sorted(docs), start=1):
            sched.append((r / weights[s], s, doc_id))
    want = {
        doc_id: (pos + 1, weights[s]) for pos, (_, s, doc_id) in enumerate(sorted(sched))
    }
    assert got == want


@settings(max_examples=10, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    results=st.lists(
        st.sampled_from(["succeed", "dropped", "ignored"]), min_size=1, max_size=40
    ),
    batch=st.integers(min_value=1, max_value=7),
)
def test_aimd_limiter_equals_reference_model(spark, results, batch):
    """A33's JVM fold matches a direct Python replay of the AIMD policy
    (AdaptiveInflightLimiter.doComplete result handling)."""
    from uforwarder_spark.operators.pipeline import (
        AIMD_INIT,
        AIMD_MAX,
        AIMD_MIN,
        aimd_limiter_frame,
    )

    # encode results through the message model: dropped -> outcome DLQ,
    # succeed -> acked, ignored -> RETRY (not acked, not dropped)
    rows = []
    for off, res in enumerate(results):
        outcome = {"succeed": "OK", "dropped": "DLQ", "ignored": "RETRY"}[res]
        rows.append(("t", 0, off, outcome, res == "succeed"))
    m = spark.createDataFrame(rows, ["topic", "part_id", "msg_offset", "outcome", "acked"])
    r = aimd_limiter_frame(m, batch=batch).collect()[0]

    lim, n_inc, n_dec = AIMD_INIT, 0, 0
    min_lim = max_lim = AIMD_INIT
    n_batches = 0
    for i in range(0, len(results), batch):
        chunk = results[i : i + batch]
        n_batches += 1
        if "dropped" in chunk:
            lim = max(AIMD_MIN, lim // 2)
            n_dec += 1
        elif "succeed" in chunk:
            lim = min(AIMD_MAX, lim + 1)
            n_inc += 1
        min_lim, max_lim = min(min_lim, lim), max(max_lim, lim)
    assert (r.n_batches, r.final_limit) == (n_batches, lim)
    assert (r.n_increase, r.n_decrease) == (n_inc, n_dec)
    assert (r.min_limit, r.max_limit) == (min_lim, max_lim)


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(toks=st.lists(st.integers(min_value=1, max_value=50), min_size=2, max_size=6))
def test_importance_weights_equal_python_model(spark, tmp_path_factory, toks):
    """The REAL importance_sampling_weights operator equals an explicit
    temperature-sampling model: weight ∝ share^(1/T) renormalized, and
    the target mixture sums to 1."""
    import math

    from uforwarder_spark.operators.training import (
        MIX_TEMPERATURE,
        importance_sampling_weights,
    )

    d = tmp_path_factory.mktemp("imp")
    # source i gets one doc of toks[i] tokens
    rows = [(i, "w " * t, f"s{i}") for i, t in enumerate(toks)]
    sf = _write_docs(d, rows, spark)
    got = {r.source: r for r in importance_sampling_weights(spark, sf).collect()}

    total = sum(toks)
    shares = {f"s{i}": t / total for i, t in enumerate(toks)}
    tshare = {s: round(v ** (1.0 / MIX_TEMPERATURE), 8) for s, v in shares.items()}
    denom = sum(tshare.values())  # exact: rounded values, few terms
    for s, share in shares.items():
        r = got[s]
        assert r.n_tokens == toks[int(s[1:])]
        assert math.isclose(r.token_share, share, rel_tol=0, abs_tol=5e-9)
        assert math.isclose(r.target_share, tshare[s] / denom, rel_tol=0, abs_tol=5e-9)
        # outputs are rounded to 8 dp -> up to 5e-9 absolute error vs the
        # unrounded model (weights are O(1), so absolute tol is the right bound)
        assert math.isclose(
            r.sampling_weight, (tshare[s] / denom) / share, abs_tol=6e-9
        )
    assert math.isclose(sum(r.target_share for r in got.values()), 1.0, abs_tol=1e-6)


def test_kmeans_assign_equals_numpy_lloyd(spark):
    """The REAL kmeans_embedding_assign operator at sf0.001 equals an
    explicit numpy Lloyd replay (2 E-steps, decimal-rounded M-step,
    lower-cluster tiebreak)."""
    import numpy as np

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        K_CLUSTERS,
        kmeans_embedding_assign,
    )

    got = {r.vec_id: r.cluster for r in kmeans_embedding_assign(spark, SF_SMALL).collect()}

    import duckdb

    vecs = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM read_parquet('{SF_SMALL}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([v[0] for v in vecs])
    X = np.array([v[1] for v in vecs])  # folds are nearly-exact on this data
    keep = (X * X).sum(axis=1) > 0
    ids, X = ids[keep], X[keep]
    C = X[:K_CLUSTERS]
    for _ in range(2):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)  # argmin takes the first (lowest) index on ties
        C = np.stack([
            np.round(X[assign == k], 7).sum(axis=0) / (assign == k).sum()
            if (assign == k).any() else C[k]
            for k in range(K_CLUSTERS)
        ])
        # only the first E-step's centroids feed the second; loop runs
        # assign->update twice but we read the SECOND assign below
    want = dict(zip(ids.tolist(), assign.tolist()))
    assert got == want


def test_semdedup_equals_numpy_rule(spark):
    """The REAL semdedup_prune operator at sf0.001 equals a numpy replay
    of cluster-then-drop-if-any-earlier-near-dup."""
    import duckdb
    import numpy as np

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        K_CLUSTERS,
        SEMDEDUP_COS,
        semdedup_prune,
    )

    got = {r.vec_id: (r.keep, r.dup_of) for r in semdedup_prune(spark, SF_SMALL).collect()}

    vecs = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM read_parquet('{SF_SMALL}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([v[0] for v in vecs])
    X = np.array([v[1] for v in vecs])
    keepmask = (X * X).sum(axis=1) > 0
    ids, X = ids[keepmask], X[keepmask]
    C = X[:K_CLUSTERS]
    for _ in range(2):
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        C = np.stack([
            np.round(X[assign == k], 7).sum(axis=0) / (assign == k).sum()
            if (assign == k).any() else C[k]
            for k in range(K_CLUSTERS)
        ])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    want = {}
    for i, vid in enumerate(ids):
        same = np.where((assign == assign[i]) & (ids < vid))[0]
        near = same[(Xn[same] @ Xn[i]) >= SEMDEDUP_COS - 1e-12]
        # the numpy cosine differs from the engines' sequential fold in
        # the last ulp; pairs EXACTLY at the threshold could flip — none
        # sit there on this data (margin checked below)
        if len(near):
            want[int(vid)] = (False, int(ids[near].min()))
        else:
            want[int(vid)] = (True, None)
        margins = np.abs((Xn[same] @ Xn[i]) - SEMDEDUP_COS) if len(same) else np.array([1.0])
        assert margins.min() > 1e-9, "threshold-straddling pair breaks the replay"
    assert got == want


# --- round-4 sketches -----------------------------------------------------
words = st.lists(
    st.sampled_from([f"w{i}" for i in range(40)]), min_size=1, max_size=60
)


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(docs=st.lists(words, min_size=1, max_size=10))
def test_cms_estimate_never_below_exact(spark, tmp_path_factory, docs):
    """D48 invariant: on ANY corpus, every CMS estimate >= the exact
    count (collisions only ever add)."""
    tmp = tmp_path_factory.mktemp("cms")
    rows = [
        (i, " ".join(ws), "en", f"src{i % 3:02d}", len(" ".join(ws)))
        for i, ws in enumerate(docs)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp / "documents.parquet"))

    from uforwarder_spark.functions.text import cms_heavy_hitters

    for r in cms_heavy_hitters(spark, str(tmp)).collect():
        assert r.cms_estimate >= r.freq
        assert r.overestimate == r.cms_estimate - r.freq


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    a=st.lists(words, min_size=1, max_size=6),
    b=st.lists(words, min_size=1, max_size=6),
)
def test_hll_registers_merge_by_max(spark, a, b):
    """D49/E22 core: registers of (A union B) equal the per-register MAX
    of A's and B's registers — split/merge order cannot matter."""
    from pyspark.sql import functions as F

    from uforwarder_spark.functions.text import hll_register_frame

    def docs_frame(docs, start):
        rows = [
            (start + i, " ".join(ws), "en", "srcX", len(" ".join(ws)))
            for i, ws in enumerate(docs)
        ]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    fa, fb = docs_frame(a, 0), docs_frame(b, 1000)
    whole = {
        (r.source, r.reg): r.r
        for r in hll_register_frame(fa.unionByName(fb)).collect()
    }
    merged = {
        (r.source, r.reg): r.r
        for r in hll_register_frame(fa)
        .unionByName(hll_register_frame(fb))
        .groupBy("source", "reg")
        .agg(F.max("r").alias("r"))
        .collect()
    }
    assert whole == merged


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(min_value=0.02, max_value=900.0, allow_nan=False, allow_infinity=False),
        min_size=5,
        max_size=80,
    )
)
def test_hdr_estimate_within_bucket_bound(spark, vals):
    """D54 invariant: on ANY in-range value set, the geometric-midpoint
    estimate is within a half-bucket of the true quantile — ratio in
    (2^-1/16, 2^1/16] — because the true quantile lies inside the
    bucket the cumulative count selects."""
    from pyspark.sql import functions as F

    from uforwarder_spark.operators.timeseries import (
        HDR_QS,
        hdr_bucket_counts_frame,
        hdr_quantiles_frame,
    )

    ev = spark.createDataFrame([("t", v) for v in vals], "topic string, v double")
    est = {
        round(r.q, 2): r.est
        for r in hdr_quantiles_frame(hdr_bucket_counts_frame(ev)).collect()
    }
    svals = sorted(vals)
    bound = 2 ** (1 / 16) * 1.000001  # half-bucket ratio + float slack
    for q in HDR_QS:
        # the bucket rule selects the first bucket whose cumulative
        # count reaches q*n: that bucket contains the ceil(q*n)-th value
        import math

        true_v = svals[max(0, math.ceil(q * len(svals)) - 1)]
        assert 1 / bound <= est[round(q, 2)] / true_v <= bound, (q, est, true_v)


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    vals=st.lists(
        st.floats(min_value=0.0, max_value=0.007, allow_nan=False, allow_infinity=False),
        min_size=3,
        max_size=40,
    )
)
def test_hdr_subrange_values_clamp_to_bucket_zero(spark, vals):
    """D54 regression (round-5 ADVICE): a topic whose values all fall at
    or below the lowest HDR bound (2^-7 ≈ 0.0078) — including exact 0.0
    — must NOT crash with INVALID_INDEX_OF_ZERO. The clamp merges the
    would-be bucket -1 mass into bucket 0, so every quantile reads the
    lowest bucket's geometric midpoint."""
    import math

    from uforwarder_spark.operators.timeseries import (
        HDR_BOUNDS,
        HDR_QS,
        hdr_bucket_counts_frame,
        hdr_quantiles_frame,
    )

    ev = spark.createDataFrame([("z", v) for v in vals], "topic string, v double")
    cnt = {r.bucket: r.c for r in hdr_bucket_counts_frame(ev).collect()}
    assert all(b >= 0 for b in cnt), cnt
    est = {
        round(r.q, 2): r.est
        for r in hdr_quantiles_frame(hdr_bucket_counts_frame(ev)).collect()
    }
    lowest_mid = math.sqrt(HDR_BOUNDS[0] * HDR_BOUNDS[1])
    for q in HDR_QS:
        assert abs(est[round(q, 2)] - lowest_mid) < 1e-9, (q, est)


@settings(max_examples=5, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet="abcxyz ", min_size=1, max_size=120),
        min_size=3,
        max_size=18,
    ),
    dup_of=st.lists(st.integers(0, 17), min_size=0, max_size=6),
)
def test_phash_dedup_equals_bruteforce_replay(spark, tmp_path_factory, texts, dup_of):
    """D64 invariant: for ANY payload set (including forced exact
    duplicates), the hash-level factorization + band/cap candidate rule
    must equal a brute-force doc-level Python replay of the SAME
    semantics: n_near_dups(d) = #{other docs : same hash} + #{docs at a
    different hash sharing >=1 live band, Hamming <= T}."""
    from uforwarder_spark.functions.multimodal import (
        PHASH_BAND_DF_CAP,
        PHASH_BAND_LEN,
        PHASH_BANDS,
        PHASH_BITS,
        PHASH_HAM_T,
        multimodal_phash_dedup,
    )

    # append forced duplicates of existing texts
    all_texts = list(texts) + [texts[i % len(texts)] for i in dup_of]
    rows = [
        (i, t, "en", f"src{i % 4:02d}", len(t)) for i, t in enumerate(all_texts)
    ]
    tmp_path = tmp_path_factory.mktemp("phash_prop")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    # brute-force replay in pure Python (doc-level, no factorization)
    def ahash(t: str) -> str:
        b = t.encode("utf-8")
        n = len(b)
        ps = [b[(i * n) // PHASH_BITS] for i in range(PHASH_BITS)]
        s = sum(ps)
        return "".join("1" if p * PHASH_BITS >= s else "0" for p in ps)

    hashes = {i: ahash(t) for i, t in enumerate(all_texts) if t}
    distinct = sorted(set(hashes.values()))
    bucket: dict = {}
    for h in distinct:
        for bnd in range(PHASH_BANDS):
            bucket.setdefault(
                (bnd, h[bnd * PHASH_BAND_LEN : (bnd + 1) * PHASH_BAND_LEN]), set()
            ).add(h)
    live_pairs = set()
    for members in bucket.values():
        if len(members) > PHASH_BAND_DF_CAP:
            continue
        for ha in members:
            for hb in members:
                if ha != hb:
                    live_pairs.add((ha, hb))

    def hamming(a, b):
        return sum(1 for x, y in zip(a, b) if x != y)

    got = {r.doc_id: r for r in multimodal_phash_dedup(spark, str(tmp_path)).collect()}
    assert set(got) == set(hashes)
    for i, h in hashes.items():
        same = sum(1 for j, h2 in hashes.items() if j != i and h2 == h)
        near = sum(
            1
            for j, h2 in hashes.items()
            if h2 != h and (h, h2) in live_pairs and hamming(h, h2) <= PHASH_HAM_T
        )
        assert got[i].phash == h, i
        assert got[i].n_near_dups == same + near, (i, same, near, got[i])
        assert got[i].canonical_id == min(
            j for j, h2 in hashes.items() if h2 == h
        )


@settings(max_examples=4, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("alpha bravo charlie delta echo fox golf hotel".split()),
            min_size=1, max_size=30,
        ).map(" ".join),
        min_size=5, max_size=25,
    ),
    quotes=st.lists(st.integers(0, 24), min_size=0, max_size=5),
)
def test_ngram_decon_equals_python_replay(spark, tmp_path_factory, texts, quotes):
    """D67 invariant: for ANY corpus — including docs that QUOTE another
    doc's text inside a longer page (the `quotes` indices append a full
    copy of an earlier doc plus padding) — the flagged set, per-doc
    distinct-gram counts, and eval-doc attributions equal a pure-Python
    sliding-window replay using the same eval-membership hash rule."""
    import hashlib

    from uforwarder_spark.operators.dedup import (
        EVAL_MOD,
        NGRAM_DECON_N,
        ngram_decontamination,
    )

    all_texts = list(texts) + [
        "padding words before " + texts[q % len(texts)] + " padding words after"
        for q in quotes
    ]
    rows = [(i, t, "en", f"src{i % 3:02d}", len(t)) for i, t in enumerate(all_texts)]
    d = tmp_path_factory.mktemp("decon_prop")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    def is_eval(doc_id: int) -> bool:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % EVAL_MOD == 0

    import re as _re

    def grams(t: str) -> list[str]:
        toks = [x for x in _re.split(r"[^a-z0-9]+", t.lower()) if x]
        return [
            " ".join(toks[i : i + NGRAM_DECON_N])
            for i in range(len(toks) - NGRAM_DECON_N + 1)
        ]

    eval_grams: dict[str, set[int]] = {}
    for i, t in enumerate(all_texts):
        if is_eval(i):
            for g in grams(t):
                eval_grams.setdefault(g, set()).add(i)
    want = {}
    for i, t in enumerate(all_texts):
        if is_eval(i):
            continue
        hit_g = {g for g in grams(t) if g in eval_grams}
        hit_e = set().union(*(eval_grams[g] for g in hit_g)) if hit_g else set()
        want[i] = (len(hit_g), len(hit_e), bool(hit_g))

    got = {
        r.doc_id: (r.n_gram_hits, r.n_eval_docs, r.contaminated)
        for r in ngram_decontamination(spark, str(d)).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    n_docs=st.integers(5, 40),
    edit_seed=st.randoms(use_true_random=False),
)
def test_snapshot_diff_equals_python_replay(spark, tmp_path_factory, n_docs, edit_seed):
    """D70 invariant: for ANY doc-id set, the status classification and
    per-source byte deltas equal a pure-Python replay of the derivation
    rules (added = id%10==7, changed = id%10==3 halved prior text,
    removed ghost = id%10==5 offset twin)."""
    from uforwarder_spark.operators.training import (
        SNAP_REMOVED_OFFSET,
        corpus_snapshot_diff,
    )

    rows = []
    for i in range(n_docs):
        doc_id = i * edit_seed.randint(1, 7) + edit_seed.randint(0, 3)
        words = ["w%d" % edit_seed.randint(0, 9) for _ in range(edit_seed.randint(2, 20))]
        rows.append((doc_id, " ".join(words), "en", f"src{doc_id % 3:02d}"))
    rows = list({r[0]: r for r in rows}.values())  # distinct doc_ids
    d = tmp_path_factory.mktemp("snap_prop")
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    want: dict[tuple[str, str], list[int]] = {}

    def add(src, status, delta):
        want.setdefault((src, status), [0, 0])
        want[(src, status)][0] += 1
        want[(src, status)][1] += delta

    for doc_id, t, _, src in rows:
        n = len(t)
        if doc_id % 10 == 7:
            add(src, "added", n)
        elif doc_id % 10 == 3:
            prior = t[: (n // 2)]
            add(src, "changed" if prior != t else "unchanged", n - len(prior))
        else:
            add(src, "unchanged", 0)
        if doc_id % 10 == 5:
            add(src, "removed", -n)
    got = {
        (r.source, r.status): [r.n_docs, r.bytes_delta]
        for r in corpus_snapshot_diff(spark, str(d)).collect()
    }
    assert got == want, (got, want)


def test_pq_equals_numpy_replay(spark):
    """The REAL ann_topk_pq operator at sf0.01 equals an explicit numpy
    PQ replay — normalize, 8×8 subvectors, seed codebooks from the 16
    lowest vec_ids, one rounded M-step, re-encode, ADC with the query's
    distance table, top-50 by (adc, vec_id), exact-cosine top-10 — at
    the level that matters: the returned ids and ranks (float folds are
    nearly-exact on this data; scores are oracle-checked elsewhere)."""
    import duckdb
    import numpy as np

    from tests.conftest import SF_MED
    from uforwarder_spark.operators.similarity import (
        MQ_TOPK,  # noqa: F401  (import keeps the constants together)
        PQ_K,
        PQ_M,
        PQ_RESCORE,
        PQ_SUB,
        ann_topk_pq,
    )

    got = [(r.vec_id, r.label) for r in ann_topk_pq(spark, SF_MED).collect()]

    vecs = duckdb.sql(
        f"SELECT vec_id, label, embedding::DOUBLE[] FROM "
        f"read_parquet('{SF_MED}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([v[0] for v in vecs])
    labels = {v[0]: v[1] for v in vecs}
    X = np.array([v[2] for v in vecs])
    keep = (X * X).sum(axis=1) > 0
    ids, X = ids[keep], X[keep]
    U = X / np.sqrt((X * X).sum(axis=1))[:, None]
    S = U.reshape(len(U), PQ_M, PQ_SUB)  # (n, m, sub)
    C = S[:PQ_K].transpose(1, 0, 2).copy()  # (m, code, sub): seeds
    for _ in range(1):
        d2 = ((S[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3)  # (n, m, code)
        a1 = d2.argmin(axis=2)  # ties -> first (lowest code)
        C = np.stack([
            np.stack([
                np.round(S[a1[:, m] == k, m], 7).sum(axis=0) / (a1[:, m] == k).sum()
                if (a1[:, m] == k).any() else C[m, k]
                for k in range(PQ_K)
            ])
            for m in range(PQ_M)
        ])
    corpus = ids != 0
    d2 = ((S[:, :, None, :] - C[None, :, :, :]) ** 2).sum(axis=3)
    codes = d2.argmin(axis=2)  # (n, m)
    qi = int(np.where(ids == 0)[0][0])
    dtab = ((S[qi][:, None, :] - C) ** 2).sum(axis=2)  # (m, code)
    adc = dtab[np.arange(PQ_M)[None, :], codes].sum(axis=1)
    order = sorted(
        (float(adc[i]), int(ids[i]), i) for i in range(len(ids)) if corpus[i]
    )[:PQ_RESCORE]
    qv = X[qi]
    def cos(i):
        v = X[i]
        return float(v @ qv / np.sqrt((v @ v) * (qv @ qv)))
    top = sorted(((-cos(i), int(ids[i])) for _, _, i in order))[:10]
    want = [(vid, labels[vid]) for _, vid in top]
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    jobs=st.lists(
        st.tuples(
            st.sampled_from(["click", "view", "error"]),
            st.integers(0, 3),
            st.integers(1, 40),   # n_msgs (non-SKIP)
            st.integers(0, 5),    # n_skip
        ),
        min_size=2, max_size=12, unique_by=lambda j: (j[0], j[1]),
    ),
    span_minutes=st.integers(10, 5000),
)
def test_system_load_equals_python_model(spark, jobs, span_minutes):
    """B22 invariant: for ANY per-job message mix and time span, the
    per-topic demand (micro scale units), cap counts, and system ratio
    equal a pure-Python replay of the micro-unit integer pipeline —
    including the SKIP rules (SKIP rows stretch the span but join no
    job counters)."""
    import math

    import pandas as pd
    from pyspark.sql import functions as F

    from uforwarder_spark.operators.controller import (
        LOAD_BPS_PER_WORKER,
        LOAD_CAP_MICRO,
        LOAD_MPS_PER_WORKER,
        system_load_from,
    )

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    for k, (topic, pid, n, n_skip) in enumerate(jobs):
        for i in range(n):
            rows.append((topic, pid, base + pd.Timedelta(minutes=(k * 37 + i) % span_minutes),
                         100 + 7 * i, "OK"))
        for i in range(n_skip):
            rows.append((topic, pid, base + pd.Timedelta(minutes=span_minutes), 50, "SKIP"))
    mdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["topic", "part_id", "ts", "size_bytes", "outcome"]),
        "topic string, part_id long, ts timestamp, size_bytes long, outcome string",
    )
    span_df = mdf.selectExpr(
        "max(unix_timestamp(ts)) - min(unix_timestamp(ts)) AS span"
    )
    jb = (
        mdf.filter("outcome <> 'SKIP'")
        .groupBy("topic", "part_id")
        .agg(
            F.count("*").alias("n_msgs"),
            F.sum("size_bytes").cast("bigint").alias("n_bytes"),
        )
    )
    got = {
        r.topic: (r.n_jobs, r.n_capped, r.demand_micro, r.system_load, r.utilization)
        for r in system_load_from(jb, span_df).collect()
    }

    # pure-Python replay
    span = int((max(r[2] for r in rows) - min(r[2] for r in rows)).total_seconds())
    per_topic: dict[str, list[int]] = {}
    for topic, pid, n, n_skip in jobs:
        n_bytes = sum(100 + 7 * i for i in range(n))
        scale = max(
            (float(n) / float(span)) / LOAD_MPS_PER_WORKER,
            (float(n_bytes) / float(span)) / LOAD_BPS_PER_WORKER,
        )
        micro = int(math.floor(scale * 1000000.0))
        t = per_topic.setdefault(topic, [0, 0, 0])
        t[0] += 1
        t[1] += micro >= LOAD_CAP_MICRO
        t[2] += min(micro, LOAD_CAP_MICRO)
    demand = sum(v[2] for v in per_topic.values())
    cap = 4 * LOAD_CAP_MICRO
    ratio = round(demand / cap, 8)
    util = "under" if demand / cap < 1.0 else ("over" if demand / cap > 1.0 else "balanced")
    want = {t: (v[0], v[1], v[2], ratio, util) for t, v in per_topic.items()}
    assert got == want


def test_ivf_refresh_equals_numpy_churn(spark):
    """The REAL ivf_index_refresh operator at sf0.001 equals a numpy
    replay: first assignment against the seed representatives, one
    decimal-rounded M-step, second assignment, then the per-cell
    before/after/stay/moved/shift table computed by hand."""
    import duckdb
    import numpy as np

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import K_CLUSTERS, ivf_index_refresh

    got = {
        r.cell: (r.n_before, r.n_after, r.n_stay, r.n_moved_out, r.n_moved_in)
        for r in ivf_index_refresh(spark, SF_SMALL).collect()
    }
    vecs = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM read_parquet('{SF_SMALL}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([v[0] for v in vecs])
    X = np.array([v[1] for v in vecs])
    keep = (X * X).sum(axis=1) > 0
    ids, X = ids[keep], X[keep]
    C0 = X[:K_CLUSTERS]
    d2 = ((X[:, None, :] - C0[None, :, :]) ** 2).sum(axis=2)
    a1 = d2.argmin(axis=1)
    C1 = np.stack([
        np.round(X[a1 == k], 7).sum(axis=0) / (a1 == k).sum()
        if (a1 == k).any() else C0[k]
        for k in range(K_CLUSTERS)
    ])
    d2b = ((X[:, None, :] - C1[None, :, :]) ** 2).sum(axis=2)
    a2 = d2b.argmin(axis=1)
    want = {}
    for k in range(K_CLUSTERS):
        n_before = int((a1 == k).sum())
        if n_before == 0:
            continue
        n_after = int((a2 == k).sum())
        n_stay = int(((a1 == k) & (a2 == k)).sum())
        want[k] = (n_before, n_after, n_stay, n_before - n_stay, n_after - n_stay)
    assert got == want


def _es_python_replay(tokens_by_doc, W, ex_hashes=None):
    """Pure-Python exact-substring replay: duplicated window positions
    (corpus-wide count >= 2, or membership in ex_hashes for the
    asymmetric D74 form) merged into maximal islands per doc."""
    from collections import Counter

    wins = {
        i: [" ".join(t[p : p + W]) for p in range(len(t) - W + 1)]
        for i, t in tokens_by_doc.items()
        if len(t) >= W
    }
    cnt = Counter()
    for ws in wins.values():
        cnt.update(ws)
    out = {}
    for i, ws in wins.items():
        if ex_hashes is None:
            pos = [p for p, w in enumerate(ws) if cnt[w] > 1]
        else:
            pos = [p for p, w in enumerate(ws) if w in ex_hashes]
        spans = []
        for p in pos:
            if spans and p - spans[-1][1] <= W:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        n_dup = sum(p1 + W - p0 for p0, p1 in spans)
        out[i] = (
            len(tokens_by_doc[i]),
            len(pos),
            len(spans),
            n_dup,
        )
    return out


@settings(max_examples=4, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    n_docs=st.integers(4, 10),
    gen_seed=st.randoms(use_true_random=False),
)
def test_exact_substring_equals_python_replay(spark, tmp_path_factory, n_docs, gen_seed):
    """D73 + D74 invariant: for ANY corpus with planted shared runs —
    cross-doc, within-doc, and cross-SIDE — both operators equal the
    pure-Python sliding-window + island-merge replay (symmetric
    corpus-wide for D73; asymmetric vs the even-source window set for
    D74)."""
    from uforwarder_spark.operators.dedup import (
        ES_W,
        exact_substring_dedup,
        incr_substring_dedup,
    )

    W = ES_W
    toks = {}
    for i in range(n_docs):
        base = [f"d{i}t{j}" for j in range(gen_seed.randrange(40, 120))]
        if i >= 2 and gen_seed.random() < 0.6:
            donor = toks[gen_seed.randrange(i)]
            if len(donor) >= W + 10:
                start = gen_seed.randrange(len(donor) - W - 9)
                base = base + donor[start : start + W + 10]  # planted cross run
        if gen_seed.random() < 0.3:
            run = [f"r{i}x{j}" for j in range(W + 5)]
            base = run + base + run  # planted within-doc repeat
        toks[i] = base
    rows = [
        (i, " ".join(t), "en", f"src{i % 4}", len(t)) for i, t in toks.items()
    ]
    d = tmp_path_factory.mktemp("es_prop")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    want = _es_python_replay(toks, W)
    got = {
        r.doc_id: (r.n_tokens, r.n_dup_windows, r.n_spans, r.n_dup_tokens)
        for r in exact_substring_dedup(spark, str(d)).collect()
    }
    assert got == want

    ex = {i: t for i, t in toks.items() if i % 4 in (0, 2)}  # src0/src2
    inc = {i: t for i, t in toks.items() if i % 4 in (1, 3)}
    ex_wins = set()
    for i, t in ex.items():
        ex_wins.update(" ".join(t[p : p + W]) for p in range(len(t) - W + 1))
    want_in = _es_python_replay(inc, W, ex_hashes=ex_wins)
    got_in = {
        r.doc_id: (r.n_tokens, r.n_dup_windows, r.n_spans, r.n_dup_tokens)
        for r in incr_substring_dedup(spark, str(d)).collect()
    }
    assert got_in == want_in

    # D78: the cut output equals the python replay's kept-token re-join
    import hashlib
    from collections import Counter

    from uforwarder_spark.operators.dedup import substring_span_removal

    wins = {
        i: [" ".join(t[p : p + W]) for p in range(len(t) - W + 1)]
        for i, t in toks.items()
        if len(t) >= W
    }
    cnt = Counter()
    for ws in wins.values():
        cnt.update(ws)
    want_clean = {}
    for i, ws in wins.items():
        covered = set()
        for p, w in enumerate(ws):
            if cnt[w] > 1:
                covered.update(range(p, p + W))
        kept = [t for j, t in enumerate(toks[i]) if j not in covered]
        want_clean[i] = (
            len(toks[i]) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    got_clean = {
        r.doc_id: (r.n_tokens_cut, r.cleaned_md5)
        for r in substring_span_removal(spark, str(d)).collect()
    }
    assert got_clean == want_clean


@settings(max_examples=4, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(texts=st.lists(words, min_size=1, max_size=8))
def test_quality_classifier_equals_python_replay(spark, tmp_path_factory, texts):
    """D75 invariant: margin, decile and keep equal a pure-Python
    replay of the hashed-linear rule (md5 60-bit bucket, Knuth
    multiplicative weight, integer sum, one division)."""
    import hashlib
    import math

    from uforwarder_spark.functions.text import (
        QC_MULT,
        QC_NB,
        quality_classifier_score,
    )

    docs = [" ".join(t) for t in texts]
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(docs)]
    d = tmp_path_factory.mktemp("qc_prop")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    def k_of(tok: str) -> int:
        h = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
        return ((h % QC_NB) * QC_MULT) % (2 * QC_NB)

    want = {}
    for i, t in enumerate(docs):
        toks = [x for x in t.lower().split() if x]
        if not toks:
            continue
        sum_k = sum(k_of(x) for x in toks)
        n = len(toks)
        margin = (sum_k - QC_NB * n) / (QC_NB * n)
        dec = int(min(max(math.floor((margin + 1.0) * 5.0), 0), 9))
        want[i] = (n, round(margin, 6), dec, sum_k > QC_NB * n)
    got = {
        r.doc_id: (r.n_tokens, r.margin, r.quality_decile, r.keep)
        for r in quality_classifier_score(spark, str(d)).collect()
    }
    assert got == want


def test_index_drift_equals_numpy_stats(spark):
    """D79 invariant: the per-cell drift table at sf0.001 equals a
    numpy replay of one E-step + count/mean/share/flag arithmetic."""
    import duckdb
    import numpy as np

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        DRIFT_T,
        K_CLUSTERS,
        OVERLOAD_SHARE,
        index_drift_stats,
    )

    got = {
        r.cell: (r.n_members, r.mean_sq_dist, r.load_share, r.drifted, r.overloaded)
        for r in index_drift_stats(spark, SF_SMALL).collect()
    }
    vecs = duckdb.sql(
        f"SELECT vec_id, embedding::DOUBLE[] FROM read_parquet('{SF_SMALL}/embeddings.parquet') ORDER BY vec_id"
    ).fetchall()
    ids = np.array([v[0] for v in vecs])
    X = np.array([v[1] for v in vecs])
    keep = (X * X).sum(axis=1) > 0
    X = X[keep]
    C = X[:K_CLUSTERS]
    d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a1 = d2.argmin(axis=1)
    dmin = d2.min(axis=1)
    total = len(X)
    want = {}
    for k in range(K_CLUSTERS):
        m = a1 == k
        n = int(m.sum())
        if n == 0:
            continue
        md = float(np.round(dmin[m], 7).sum() / n)
        share = n / total
        want[k] = (
            n,
            round(md, 6),
            round(share, 6),
            md > DRIFT_T,
            share > OVERLOAD_SHARE,
        )
    assert got == want


@settings(max_examples=4, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(words, min_size=3, max_size=8),
    quotes=st.lists(st.integers(0, 6), max_size=3),
)
def test_decon_span_removal_equals_python_replay(spark, tmp_path_factory, texts, quotes):
    """D80 invariant: for ANY corpus — including docs quoting an eval
    doc's text inside a longer page — the cut token set equals a pure-
    Python replay of gram-match → island-merge → covered-position
    union, and the cleaned md5 matches the remaining tokens."""
    import hashlib

    from uforwarder_spark.operators.dedup import (
        EVAL_MOD,
        NGRAM_DECON_N,
        decon_span_removal,
    )

    base = [" ".join(t) for t in texts]
    all_texts = base + [
        "padding words before " + base[q % len(base)] + " padding words after"
        for q in quotes
    ]
    rows = [(i, t, "en", f"src{i % 3:02d}", len(t)) for i, t in enumerate(all_texts)]
    d = tmp_path_factory.mktemp("dsr_prop")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    def is_eval(doc_id: int) -> bool:
        return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % EVAL_MOD == 0

    import re as _re

    W = NGRAM_DECON_N

    def toks_of(t):
        return [x for x in _re.split(r"[^a-z0-9]+", t.lower()) if x]

    eval_grams = set()
    for i, t in enumerate(all_texts):
        if is_eval(i):
            tk = toks_of(t)
            eval_grams.update(
                " ".join(tk[p : p + W]) for p in range(len(tk) - W + 1)
            )
    want = {}
    for i, t in enumerate(all_texts):
        if is_eval(i):
            continue
        tk = toks_of(t)
        covered = set()
        for p in range(max(len(tk) - W + 1, 0)):
            if " ".join(tk[p : p + W]) in eval_grams:
                covered.update(range(p, p + W))
        kept = [x for j, x in enumerate(tk) if j not in covered]
        want[i] = (
            len(tk),
            len(tk) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (r.n_tokens, r.n_tokens_cut, r.cleaned_md5)
        for r in decon_span_removal(spark, str(d)).collect()
    }
    assert got == want


def test_kmv_sketch_overlap_equals_python_replay(spark):
    """D81 invariant: every column of the pair table at sf0.001 equals
    a pure-Python replay of the bottom-k estimator (same md5 hash
    space, same bottom-k union, same IEEE op order)."""
    import hashlib
    import re as _re

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.dedup import KMV_K, KMV_SPACE, kmv_sketch_overlap

    got = {
        (r.src_a, r.src_b): r for r in kmv_sketch_overlap(spark, SF_SMALL).collect()
    }
    docs = duckdb.sql(
        f"SELECT source, lower(text) FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    sets: dict[str, set[int]] = {}
    for src, txt in docs:
        ts = [t for t in _re.split("[^a-z0-9]+", txt) if t]
        gs = (
            {" ".join(ts[i : i + 3]) for i in range(len(ts) - 2)}
            if len(ts) >= 3
            else {" ".join(ts)}
        )
        sets.setdefault(src, set()).update(
            int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in gs
        )
    srcs = sorted(sets)
    assert len(got) == len(srcs) * (len(srcs) - 1) // 2
    for i, a in enumerate(srcs):
        for b in srcs[i + 1 :]:
            A, B = sets[a], sets[b]
            ka, kb = set(sorted(A)[:KMV_K]), set(sorted(B)[:KMV_K])
            X = sorted(ka | kb)[:KMV_K]
            k_used, hk = len(X), X[-1]
            n_both = sum(1 for h in X if h in ka and h in kb)
            inter, union = len(A & B), len(A | B)
            r = got[(a, b)]
            assert (r.n_a, r.n_b, r.exact_inter, r.k_used) == (
                len(A), len(B), inter, k_used,
            )
            assert r.exact_jacc == round(inter / (len(A) + len(B) - inter), 8)
            assert r.kmv_jacc == round(n_both / k_used, 8)
            want_union = (
                float(k_used)
                if k_used < KMV_K
                else (float(KMV_K - 1) * float(KMV_SPACE)) / float(hk)
            )
            assert r.kmv_union_est == round(want_union, 4)
            assert r.kmv_inter_est == round(r.kmv_jacc * r.kmv_union_est, 4)
            assert r.jacc_abs_err == round(abs(r.kmv_jacc - r.exact_jacc), 8)


def test_knn_graph_pagerank_equals_python_replay(spark):
    """D82 invariant: the fixed-point PageRank over D76's edges equals a
    pure-Python integer replay (same BIGINT 1e-12 units, same integer
    divisions, same unrolled iterations) row-for-row on the top-50 —
    and the replay's div-by-zero on any out_deg=0 node doubles as the
    no-sinks-by-construction proof on real data."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        PR_BASE,
        PR_D_DEN,
        PR_D_NUM,
        PR_ITERS,
        PR_SCALE,
        PR_TOPK,
        knn_graph_lsh,
        knn_graph_pagerank,
    )

    edges = [
        (e.src, e.dst)
        for e in knn_graph_lsh(spark, SF_SMALL).select("src", "dst").collect()
    ]
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    out_deg = dict.fromkeys(nodes, 0)
    in_deg = dict.fromkeys(nodes, 0)
    for s, d in edges:
        out_deg[s] += 1
        in_deg[d] += 1
    n = len(nodes)
    p = {v: PR_SCALE // n for v in nodes}
    for _ in range(PR_ITERS):
        contrib = dict.fromkeys(nodes, 0)
        for s, d in edges:
            contrib[d] += p[s] // out_deg[s]  # raises iff a sink exists
        p = {v: PR_BASE // n + (PR_D_NUM * contrib[v]) // PR_D_DEN for v in nodes}
    want = sorted(nodes, key=lambda v: (-p[v], v))[:PR_TOPK]
    got = knn_graph_pagerank(spark, SF_SMALL).collect()
    assert [(r.vec_id, r.pr_e12, r.out_deg, r.in_deg, r.rank) for r in got] == [
        (v, p[v], out_deg[v], in_deg[v], i + 1) for i, v in enumerate(want)
    ]


def test_heaps_vocab_growth_equals_numpy_replay(spark):
    """D84 invariant: every fitted column at sf0.001 equals a pure
    Python/numpy replay of the Heaps curve (same tokenization, same
    doc-id order, same 8-dp-rounded ln terms, same OLS closed form)."""
    import re as _re

    import duckdb
    import numpy as np

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import heaps_vocab_growth

    got = {r.source: r for r in heaps_vocab_growth(spark, SF_SMALL).collect()}
    docs = duckdb.sql(
        f"SELECT source, doc_id, lower(text) FROM "
        f"read_parquet('{SF_SMALL}/documents.parquet') ORDER BY source, doc_id"
    ).fetchall()
    by_src: dict[str, list[tuple[int, list[str]]]] = {}
    for src, did, txt in docs:
        toks = [t for t in _re.split(r"[^a-z0-9]+", txt) if t]
        by_src.setdefault(src, []).append((did, toks))
    assert set(got) == set(by_src)
    for src, rows in by_src.items():
        seen: set[str] = set()
        pts = []
        big_n = 0
        for _did, toks in rows:  # already doc_id-ordered
            big_n += len(toks)
            seen.update(toks)
            if big_n > 0 and len(seen) > 0:
                pts.append((big_n, len(seen)))
        r = got[src]
        assert r.n_points == len(pts)
        assert r.n_tokens == pts[-1][0] and r.n_types == pts[-1][1]
        x = np.array([round(float(np.log(p[0])), 8) for p in pts])
        y = np.array([round(float(np.log(p[1])), 8) for p in pts])
        xy = np.array([round(float(np.log(p[0]) * np.log(p[1])), 8) for p in pts])
        xx = np.array([round(float(np.log(p[0]) ** 2), 8) for p in pts])
        n = len(pts)
        # decimal sums are exact; float64 sums of 8-dp values match to 1e-9
        dxx = n * xx.sum() - x.sum() ** 2
        num = n * xy.sum() - x.sum() * y.sum()
        if dxx != 0:
            assert abs(r.heaps_beta - num / dxx) < 1e-5
            # the synthetic corpus has a tiny CLOSED vocabulary, so every
            # source saturates almost immediately — exactly the templated-
            # source signature the operator flags: low beta, mediocre r2
            assert 0.0 <= r.heaps_beta < 0.5  # == 0.0 when doc 1 exhausts the vocab
            assert r.r2 is not None and 0.0 <= r.r2 <= 1.0


def test_pmi_collocations_equals_python_replay(spark):
    """D86 invariant: the top-K table at sf0.001 equals a pure-Python
    replay — same tokenization, same adjacent-pair counting, same
    min-count floor, same single-ln PMI rounded to 6 dp, same
    (pmi desc, pair) cut and ranking."""
    import math
    import re as _re
    from collections import Counter

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import (
        PMI_MIN_COUNT,
        PMI_TOPK,
        pmi_collocations,
    )

    got = pmi_collocations(spark, SF_SMALL).collect()
    texts = [
        t
        for (t,) in duckdb.sql(
            f"SELECT lower(text) FROM read_parquet('{SF_SMALL}/documents.parquet')"
        ).fetchall()
    ]
    uni: Counter = Counter()
    pairs: Counter = Counter()
    for txt in texts:
        ts = [w for w in _re.split(r"[^a-z0-9]+", txt) if w]
        uni.update(ts)
        pairs.update(zip(ts, ts[1:]))
    n = sum(uni.values())
    m = sum(pairs.values())
    scored = [
        (
            round(math.log((c / m) / ((uni[a] / n) * (uni[b] / n))), 6),
            a,
            b,
            c,
        )
        for (a, b), c in pairs.items()
        if c >= PMI_MIN_COUNT
    ]
    scored.sort(key=lambda t: (-t[0], t[1], t[2]))
    want = scored[:PMI_TOPK]
    assert len(got) == len(want)
    for r, (pmi, a, b, c) in zip(got, want):
        assert (r.tok_l, r.tok_r, r.pair_freq) == (a, b, c)
        assert r.freq_l == uni[a] and r.freq_r == uni[b]
        assert abs(r.pmi - pmi) <= 1e-6


def test_jl_projection_audit_equals_numpy_replay(spark):
    """D87 invariant: every audit row at sf0.001 equals a numpy replay
    of the md5-derived sparse projection (same matrix, same sequential
    fold results at 6 dp), and the measured distortion sits in the
    1/sqrt(k) JL regime — large enough here that the audit's verdict
    on k=16 is 'not safe for cosine thresholds', which is the point."""
    import hashlib as _hl
    import math

    import duckdb
    import numpy as np

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        DIM,
        JL_K,
        JL_PAIR_MOD,
        jl_projection_audit,
    )

    got = {r.vec_a: r for r in jl_projection_audit(spark, SF_SMALL).collect()}
    vecs = {
        vid: np.array(v, dtype=np.float64)
        for vid, v in duckdb.sql(
            f"SELECT vec_id, embedding::DOUBLE[] FROM "
            f"read_parquet('{SF_SMALL}/embeddings.parquet')"
        ).fetchall()
    }
    s = math.sqrt(3.0 / JL_K)
    R = np.zeros((JL_K, DIM))
    for j in range(JL_K):
        for d in range(DIM):
            h = int(_hl.md5(f"jl:{j}:{d}".encode()).hexdigest()[:8], 16) % 6
            R[j, d] = s if h == 0 else (-s if h == 1 else 0.0)

    def cos(a, b):
        return float(a @ b / math.sqrt((a @ a) * (b @ b)))

    errs = []
    for va_id in got:
        assert va_id % JL_PAIR_MOD == 0
        a, b = vecs[va_id], vecs[va_id + 1]
        r = got[va_id]
        assert abs(r.cos_full - cos(a, b)) < 1e-5
        assert abs(r.cos_proj - cos(R @ a, R @ b)) < 1e-5
        assert abs(r.abs_err - abs(r.cos_full - r.cos_proj)) < 2e-6
        errs.append(r.abs_err)
    mean_err = sum(errs) / len(errs)
    assert 0.05 < mean_err < 0.45  # the 1/sqrt(16)=0.25 additive regime
    assert max(errs) < 1.0


def test_bigram_perplexity_equals_python_replay(spark):
    """D88 invariant: per-doc cross-entropies at sf0.001 equal a pure-
    Python replay — same tokenization, same add-1 unigram and
    Jelinek-Mercer bigram interpolation, same 8-dp rounding before the
    per-doc sums, same first-token rule."""
    import math
    import re as _re
    from collections import Counter

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import bigram_perplexity

    got = {r.doc_id: r for r in bigram_perplexity(spark, SF_SMALL).collect()}
    rows = duckdb.sql(
        f"SELECT doc_id, lower(text) FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    docs = {
        d: [w for w in _re.split(r"[^a-z0-9]+", t) if w] for d, t in rows
    }
    uni: Counter = Counter()
    pc: Counter = Counter()
    ctx: Counter = Counter()
    for ts in docs.values():
        uni.update(ts)
        pc.update(zip(ts, ts[1:]))
        ctx.update(ts[:-1])
    n, vsize = sum(uni.values()), len(uni)

    def nll_u(t):
        return round(-math.log((uni[t] + 1.0) / (n + vsize)), 8)

    checked = 0
    for d, ts in docs.items():
        if not ts:
            assert d not in got
            continue
        su = sum(nll_u(t) for t in ts)
        fu = nll_u(ts[0])
        sb = sum(
            round(
                -math.log(
                    0.7 * (pc[(a, b)] / ctx[a])
                    + 0.3 * ((uni[b] + 1.0) / (n + vsize))
                ),
                8,
            )
            for a, b in zip(ts, ts[1:])
        )
        r = got[d]
        assert r.n_tok == len(ts)
        assert abs(float(r.ce_unigram) - su / len(ts)) <= 2e-6
        assert abs(float(r.ce_bigram) - (fu + sb) / len(ts)) <= 2e-6
        checked += 1
    assert checked == len(got)


def _triplet_python_rule(cands, margin):
    """Shared D89/D90 reference model: per src, positive = best (c desc,
    dst asc); hard negative = best candidate with c <= pos_c - margin."""
    by_src: dict = {}
    for src, dst, c in cands:
        by_src.setdefault(src, []).append((dst, c))
    out = {}
    for src, lst in by_src.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        pos_id, pos_c = lst[0]
        negs = [(d, c) for d, c in lst if c <= pos_c - margin]
        if negs:
            out[src] = (pos_id, pos_c, negs[0][0], negs[0][1])
    return out


def test_contrastive_triplets_equal_python_replay(spark):
    """D89 invariant: the triplet set at sf0.001 equals the pure-Python
    selection rule applied to the shared symmetric candidate frame."""
    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        TRIPLET_MARGIN,
        _emb,
        _knn_scored_frame,
        contrastive_triplets,
    )

    cands = [
        (r.src, r.dst, r.c)
        for r in _knn_scored_frame(_emb(spark, SF_SMALL)).collect()
    ]
    want = _triplet_python_rule(cands, TRIPLET_MARGIN)
    got = contrastive_triplets(spark, SF_SMALL).collect()
    assert len(got) == len(want) and len(got) > 0
    for r in got:
        pos_id, pos_c, neg_id, neg_c = want[r.anchor]
        assert (r.pos_id, r.neg_id) == (pos_id, neg_id)
        assert abs(r.pos_cosine - round(pos_c, 6)) <= 1e-9
        assert abs(r.neg_cosine - round(neg_c, 6)) <= 1e-9


def test_incr_triplets_equal_python_replay(spark):
    """D90 invariant: same rule, asymmetric candidate frame."""
    from pyspark.sql import functions as F

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import (
        TRIPLET_MARGIN,
        _emb,
        _incr_scored_frame,
        incr_triplet_mining,
        knn_band_frame,
    )

    e = _emb(spark, SF_SMALL)
    incoming = e.filter(F.col("vec_id") % 2 == 1)
    existing = e.filter(F.col("vec_id") % 2 == 0)
    cands = [
        (r.src, r.dst, r.c)
        for r in _incr_scored_frame(
            incoming, knn_band_frame(existing), existing
        ).collect()
    ]
    want = _triplet_python_rule(cands, TRIPLET_MARGIN)
    got = incr_triplet_mining(spark, SF_SMALL).collect()
    assert len(got) == len(want) and len(got) > 0
    for r in got:
        pos_id, pos_c, neg_id, neg_c = want[r.anchor]
        assert (r.pos_id, r.neg_id) == (pos_id, neg_id)


def test_markov_transitions_equal_python_replay(spark):
    """D91 invariant: the transition table at sf0.001 equals a pure-
    Python replay — per-user (ts, event_id) sort, adjacent pairs,
    row-normalized probs, (count desc, to asc) ranks."""
    from collections import Counter, defaultdict

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.timeseries import markov_transitions

    rows = duckdb.sql(
        f"SELECT user_id, ts, event_id, event_type FROM read_parquet('{SF_SMALL}/events.parquet')"
    ).fetchall()
    seq = defaultdict(list)
    for u, ts, eid, et in rows:
        seq[u].append((ts, eid, et))
    cnt: Counter = Counter()
    for u, evs in seq.items():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            cnt[(a, b)] += 1
    tot = Counter()
    for (a, _), c in cnt.items():
        tot[a] += c
    ranks = {}
    by_from = defaultdict(list)
    for (a, b), c in cnt.items():
        by_from[a].append((b, c))
    for a, lst in by_from.items():
        lst.sort(key=lambda t: (-t[1], t[0]))
        for i, (b, _) in enumerate(lst):
            ranks[(a, b)] = i + 1
    got = markov_transitions(spark, SF_SMALL).collect()
    assert len(got) == len(cnt) and len(got) > 0
    for r in got:
        k = (r.event_from, r.event_to)
        assert r.n_trans == cnt[k] and r.from_total == tot[r.event_from]
        assert r.rank == ranks[k]
        assert abs(r.prob - round(cnt[k] / tot[r.event_from], 6)) <= 1e-9


def test_cusum_equals_python_replay(spark):
    """D92 invariant: the per-type trajectory audit at sf0.001 equals a
    pure-Python IEEE replay of the same standardization and the same
    max(0, s+z-k) / alarm-reset recursion in minute order."""
    from collections import Counter, defaultdict

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.timeseries import (
        CUSUM_H,
        CUSUM_K,
        cusum_changepoints,
    )

    rows = duckdb.sql(
        f"SELECT event_type, date_trunc('minute', ts) FROM read_parquet('{SF_SMALL}/events.parquet')"
    ).fetchall()
    pm: Counter = Counter(rows)
    by_type = defaultdict(list)
    for (et, m), c in pm.items():
        by_type[et].append((m, c))
    got = {r.event_type: r for r in cusum_changepoints(spark, SF_SMALL).collect()}
    assert set(got) == set(by_type)
    for et, lst in by_type.items():
        lst.sort()
        cs = [c for _, c in lst]
        n = len(cs)
        mu = sum(cs) / n
        var = sum(c * c for c in cs) / n - mu * mu
        sigma = max(var, 0.0) ** 0.5
        s, n_al, first_al, max_s = 0.0, 0, None, 0.0
        for i, c in enumerate(cs):
            z = (c - mu) / sigma if sigma > 0.0 else 0.0
            step = max(0.0, s + z - CUSUM_K)
            if step > CUSUM_H:
                n_al += 1
                if first_al is None:
                    first_al = i
                s = 0.0
            else:
                s = step
            max_s = max(max_s, step)
        r = got[et]
        assert (r.n_minutes, r.n_alarms, r.first_alarm_idx) == (n, n_al, first_al)
        assert abs(r.max_s - round(max_s, 6)) <= 1e-6
        assert abs(r.final_s - round(s, 6)) <= 1e-6


def test_doremi_weights_equal_python_replay(spark):
    """D93 invariant: the mixture at sf0.001 equals a pure-Python
    replay — same add-1 unigram loss, token-weighted means, excess,
    exp weights and softmax normalization."""
    import math
    import re as _re
    from collections import Counter, defaultdict

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import DOREMI_ETA, doremi_weights

    rows = duckdb.sql(
        f"SELECT source, lower(text) FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    uni: Counter = Counter()
    per_src = defaultdict(list)
    for src, t in rows:
        ts = [w for w in _re.split(r"[^a-z0-9]+", t) if w]
        uni.update(ts)
        per_src[src].extend(ts)
    n, vsize = sum(uni.values()), len(uni)
    loss = {
        src: (
            len(ts),
            sum(round(-math.log((uni[t] + 1.0) / (n + vsize)), 8) for t in ts),
        )
        for src, ts in per_src.items()
        if ts
    }
    tot_nll = sum(s for _, s in loss.values())
    tot_n = sum(k for k, _ in loss.values())
    ew = {
        src: round(
            math.exp(DOREMI_ETA * round(s / k - tot_nll / tot_n, 8)), 8
        )
        for src, (k, s) in loss.items()
    }
    denom = sum(ew.values())
    got = doremi_weights(spark, SF_SMALL).collect()
    assert len(got) == len(loss) and len(got) > 0
    for r in got:
        k, s = loss[r.source]
        assert r.n_tok == k
        assert abs(r.mean_ce - round(s / k, 6)) <= 2e-6
        assert abs(r.weight - round(ew[r.source] / denom, 6)) <= 2e-6


def test_split_leakage_equals_python_replay(spark):
    """D94 invariant: the boundary rollup at sf0.001 equals a pure-
    Python replay over D2's verified pair set — same md5 split, same
    normalization, same distinct-doc counts and rate."""
    import hashlib
    from collections import defaultdict

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.dedup import (
        dedup_minhash_lsh,
        split_leakage_audit,
    )

    def split(doc_id):
        b = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 10
        return "train" if b < 8 else ("val" if b == 8 else "test")

    rank = {"train": 0, "val": 1, "test": 2}
    ids = [
        d
        for (d,) in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{SF_SMALL}/documents.parquet')"
        ).fetchall()
    ]
    sizes = defaultdict(int)
    for d in ids:
        sizes[split(d)] += 1
    pairs = [
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup_minhash_lsh(spark, SF_SMALL).collect()
    ]
    agg = defaultdict(lambda: [0, set(), set(), 0.0])
    for a, b, j in pairs:
        sa, sb = split(a), split(b)
        if sa == sb:
            continue
        if rank[sa] <= rank[sb]:
            lo, hi, dl, dh = sa, sb, a, b
        else:
            lo, hi, dl, dh = sb, sa, b, a
        e = agg[(lo, hi)]
        e[0] += 1
        e[1].add(dl)
        e[2].add(dh)
        e[3] = max(e[3], j)
    got = split_leakage_audit(spark, SF_SMALL).collect()
    assert len(got) == len(agg)
    for r in got:
        e = agg[(r.split_lo, r.split_hi)]
        assert (r.n_pairs, r.n_docs_lo, r.n_docs_hi) == (e[0], len(e[1]), len(e[2]))
        assert r.n_split_hi == sizes[r.split_hi]
        assert abs(r.max_jaccard - e[3]) <= 1e-9
        assert abs(r.contamination_rate - round(len(e[2]) / sizes[r.split_hi], 6)) <= 1e-9


def test_audio_segments_equal_numpy_replay(spark):
    """D95 invariant: every segmentation row at sf0.001 equals a numpy
    replay of the int16 decode, exact frame energies, threshold gate
    and voiced-run extraction."""
    import duckdb
    import numpy as np

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.multimodal import (
        AUDIO_ENERGY_T,
        AUDIO_FRAME,
        audio_silence_segments,
    )

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    got = {r.doc_id: r for r in audio_silence_segments(spark, SF_SMALL).collect()}
    n_rows = 0
    for d, t in rows:
        payload = t.encode("utf-8")
        n_fr = (len(payload) // 2) // AUDIO_FRAME
        if n_fr == 0:
            assert d not in got
            continue
        a = (
            np.frombuffer(payload, dtype="<i2", count=n_fr * AUDIO_FRAME)
            .astype(np.int64)
            .reshape(n_fr, AUDIO_FRAME)
        )
        ssq = (a * a).sum(axis=1)
        voiced = ssq >= AUDIO_ENERGY_T
        segs, run, longest = 0, 0, 0
        for v in voiced:
            if v:
                run += 1
                if run == 1:
                    segs += 1
                longest = max(longest, run)
            else:
                run = 0
        r = got[d]
        assert (r.n_frames, r.n_voiced, r.n_segments, r.longest_voiced) == (
            n_fr,
            int(voiced.sum()),
            segs,
            longest,
        )
        assert abs(r.mean_frame_energy - round(int(ssq.sum()) / n_fr, 6)) <= 1e-6
        n_rows += 1
    assert n_rows == len(got)


def _parametrize_parity_sfs():
    import pytest

    from tests.conftest import SF_MED, SF_SMALL

    return pytest.mark.parametrize(
        "sf_dir", [SF_SMALL, SF_MED], ids=["sf0.001", "sf0.01"]
    )


def test_es_state_kernel_guard(spark):
    """ADVICE r08: persisted exact-substring window-hash state is read
    through a format guard (md5 = 32 hex). md5 state passes through
    value-identical; state in the rolling-hash formats of older builds
    ('r'+16 hex, 'd'+32 hex) raises at scan time."""
    import pytest

    from uforwarder_spark.operators.dedup import es_state_kernel_guard

    md5_rows = ["a" * 32, "0123456789abcdef0123456789abcdef"]
    md5_state = spark.createDataFrame([(h,) for h in md5_rows], "h string")
    got = sorted(r.h for r in es_state_kernel_guard(md5_state).collect())
    assert got == sorted(md5_rows)

    for old in ("r" + "b" * 16, "d" + "b" * 32):
        state = spark.createDataFrame([(old,)], "h string")
        with pytest.raises(Exception, match="kernel mismatch"):
            es_state_kernel_guard(state).collect()


def test_audio_signed_vs_unsigned_divergence():
    """D95/E49 ASCII-assumption enforcement (ADVICE r07): the Spark
    kernel decodes SIGNED '<i2' samples while the DuckDB oracle
    computes unsigned ord(lo)+256*ord(hi). On ASCII payloads every hi
    byte ≤ 0x7f so sample < 32768 and the two agree sample-for-sample;
    a single hi byte ≥ 0x80 makes them diverge (signed negative vs
    unsigned large — different squares). This test proves BOTH halves
    constructively, so the corpus-level ASCII gate
    (test_oracle_parity.test_documents_ascii_at_parity_sfs) is the
    load-bearing guard, not a silent docstring assumption."""
    import numpy as np

    from uforwarder_spark.functions.multimodal import AUDIO_FRAME

    def signed_ssq(payload: bytes) -> int:
        a = np.frombuffer(payload, dtype="<i2", count=AUDIO_FRAME).astype(np.int64)
        return int((a * a).sum())

    def unsigned_ssq(payload: bytes) -> int:  # the DuckDB oracle's math
        s = [
            payload[2 * j] + 256 * payload[2 * j + 1]
            for j in range(AUDIO_FRAME)
        ]
        return sum(x * x for x in s)

    # ASCII payload: every byte ≤ 0x7f → exact agreement.
    ascii_payload = bytes(range(32, 32 + 2 * AUDIO_FRAME))
    assert all(b <= 0x7F for b in ascii_payload)
    assert signed_ssq(ascii_payload) == unsigned_ssq(ascii_payload)

    # One hi byte ≥ 0x80 (a UTF-8 continuation byte would do this) →
    # signed sample −32768+… vs unsigned 32768+…: squares diverge.
    bad = bytearray(ascii_payload)
    bad[1] = 0x80
    assert signed_ssq(bytes(bad)) != unsigned_ssq(bytes(bad))


def test_kcenter_equals_python_replay(spark):
    """D96 invariant: the selected SET and radii at sf0.001 equal a
    pure-Python sequential-arithmetic replay of the greedy
    farthest-point chain (same fold order as the Spark expressions, so
    argmax ties cannot flip)."""
    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import KCENTER_K, kcenter_coreset

    rows = duckdb.sql(
        f"SELECT vec_id, embedding FROM read_parquet('{SF_SMALL}/embeddings.parquet')"
    ).fetchall()

    def unit(v):
        acc = 0.0
        for y in v:
            acc = acc + y * y
        s = acc ** 0.5
        return [x / s for x in v]

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    vecs = {d: unit([float(x) for x in v]) for d, v in rows}
    sel = [(0, 0, 0.0)]
    d_min = {
        i: 1.0 - dot(u, vecs[0]) for i, u in vecs.items() if i != 0
    }
    for rank in range(1, KCENTER_K):
        pick = min(d_min, key=lambda i: (-d_min[i], i))
        sel.append((rank, pick, round(d_min[pick], 6)))
        pu = vecs[pick]
        del d_min[pick]
        for i in list(d_min):
            nd = 1.0 - dot(vecs[i], pu)
            if nd < d_min[i]:
                d_min[i] = nd
    got = sorted(
        [(r.rank, r.vec_id, r.radius) for r in kcenter_coreset(spark, SF_SMALL).collect()]
    )
    assert got == sel


def test_kcenter_large_k_plan_bounded(spark):
    """ADVICE r07 (medium) regression proof: before the per-step
    localCheckpoint, the unrolled greedy chain's LOGICAL plan doubled
    per step — at k=24 that is ~2^23 copies of the embedding scan and
    the analyzer alone would hang. With the checkpoint each step is one
    bounded pass, so k=24 must complete in interactive time AND match a
    pure-Python greedy replay (same fold order, selection set
    bit-identical)."""
    import math
    import time

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.similarity import kcenter_frame
    from uforwarder_spark.session import get_spark

    K = 24
    from pyspark.sql import functions as F

    from uforwarder_spark.operators.similarity import _UNIT_SPARK, _emb

    en = _emb(spark, SF_SMALL).select("vec_id", F.expr(_UNIT_SPARK).alias("u"))
    t0 = time.time()
    got = [(r.rank, r.vec_id) for r in kcenter_frame(spark, en, K).collect()]
    elapsed = time.time() - t0
    assert elapsed < 120, f"k={K} chain took {elapsed:.0f}s — plan not bounded"
    assert len(got) == K

    vecs = dict(
        duckdb.sql(
            f"SELECT vec_id, embedding FROM read_parquet('{SF_SMALL}/embeddings.parquet')"
        ).fetchall()
    )

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n > 0 else list(v)

    u = {i: unit(v) for i, v in vecs.items()}
    sel = [0]
    d = {
        i: 1.0 - sum(a * b for a, b in zip(u[i], u[0]))
        for i in u
        if i != 0
    }
    for _ in range(1, K):
        far = max(d, key=lambda i: (d[i], -i))
        sel.append(far)
        su = u[far]
        del d[far]
        for i in d:
            d[i] = min(d[i], 1.0 - sum(a * b for a, b in zip(u[i], su)))
    assert [v for _, v in sorted(got)] == sel


def test_pipeline_health_taxonomy_equals_python_replay(spark):
    """A16 (extended r08) invariant: every verdict input and all eight
    KafkaPipelineIssue window counts at sf0.001 equal a pure-Python
    replay of the message model, the per-minute rate/byte windows, the
    unacked-depth fold, and the 10-s set-semantics window accounting —
    the third independent implementation besides the Spark plan and the
    DuckDB oracle."""
    from collections import defaultdict

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.operators.pipeline import (
        DLQ_UNHEALTHY,
        HEALTH_BYTES_LIMIT,
        HEALTH_RATE_LIMIT,
        HEALTH_WIN_S,
        INFLIGHT_LIMIT,
        LAG_DEGRADED,
        MAX_LAT_HIGH,
        MED_LAT_HIGH,
        NO_RETRY_QUEUE_TOPIC,
        pipeline_health,
    )

    rows = duckdb.sql(
        f"""
        SELECT event_id, event_type, user_id % 8,
               CAST(floor(epoch(ts)) AS BIGINT),
               length(props) + 64
        FROM read_parquet('{SF_SMALL}/events.parquet')
        """
    ).fetchall()
    msgs = []
    for eid, topic, part, ep, sb in rows:
        if eid % 97 == 0:
            outcome, rc = "SKIP", 0
        elif topic == "error" and eid % 11 == 0:
            outcome, rc = "DLQ", eid % 6
        elif topic == "error" or eid % 13 == 0:
            outcome, rc = "RETRY", eid % 6
        else:
            outcome, rc = "OK", 0
        acked = outcome in ("OK", "SKIP")
        lat = 5 + (eid * 7) % 200
        msgs.append((topic, part, eid, ep, sb, outcome, rc, acked, lat))

    # per-(topic, minute) rank + running bytes, offset order
    by_min = defaultdict(list)
    for m in msgs:
        by_min[(m[0], (m[3] // 60) * 60)].append(m)
    rate_rn, bytes_run = {}, {}
    for grp in by_min.values():
        grp.sort(key=lambda m: m[2])
        run = 0
        for rn, m in enumerate(grp, 1):
            run += m[4]
            rate_rn[m[2]] = rn
            bytes_run[m[2]] = run
    # per-(topic, part) unacked depth, offset order
    by_part = defaultdict(list)
    for m in msgs:
        by_part[(m[0], m[1])].append(m)
    unacked_upto = {}
    for grp in by_part.values():
        grp.sort(key=lambda m: m[2])
        dep = 0
        for m in grp:
            dep += 0 if m[7] else 1
            unacked_upto[m[2]] = dep

    # 10-s windows: set-semantics flags + verdict inputs
    win = defaultdict(lambda: {
        "lag": 0, "dlq": 0, "unacked": False, "flags": set(),
        "n": 0, "above": 0, "maxlat": 0,
    })
    for topic, part, eid, ep, sb, outcome, rc, acked, lat in msgs:
        w = win[(topic, part, (ep // HEALTH_WIN_S) * HEALTH_WIN_S)]
        if unacked_upto[eid] > 0:
            w["lag"] += 1
        if outcome == "DLQ" or (outcome == "RETRY" and rc >= 5):
            w["dlq"] += 1
        if not acked:
            w["unacked"] = True
        if rate_rn[eid] > HEALTH_RATE_LIMIT:
            w["flags"].add("rate")
        if bytes_run[eid] > HEALTH_BYTES_LIMIT:
            w["flags"].add("bytes")
        if not acked and unacked_upto[eid] > INFLIGHT_LIMIT:
            w["flags"].add("inflight")
        if outcome in ("RETRY", "DLQ") and eid % 23 == 0:
            w["flags"].add("perm")
        if outcome in ("RETRY", "DLQ") and eid % 23 == 1:
            w["flags"].add("invalid")
        if outcome == "RETRY" and topic == NO_RETRY_QUEUE_TOPIC:
            w["flags"].add("noq")
        w["n"] += 1
        if lat > MED_LAT_HIGH:
            w["above"] += 1
        w["maxlat"] = max(w["maxlat"], lat)

    per_part = defaultdict(lambda: defaultdict(int))
    for (topic, part, _w10), w in win.items():
        p = per_part[(topic, part)]
        p["lag"] += w["lag"]
        p["dlq"] += w["dlq"]
        p["stuck"] |= w["unacked"]
        for f in w["flags"]:
            p[f] += 1
        if 2 * w["above"] > w["n"]:
            p["med"] += 1
        if w["maxlat"] > MAX_LAT_HIGH:
            p["max"] += 1

    got = {(r.topic, r.part_id): r for r in pipeline_health(spark, SF_SMALL).collect()}
    assert set(got) == set(per_part)
    for key, p in per_part.items():
        r = got[key]
        assert (r.lag_msgs, r.dlq_msgs, bool(r.has_stuck_head)) == (
            p["lag"], p["dlq"], bool(p["stuck"])
        ), key
        assert (
            r.wins_msg_rate_limited, r.wins_bytes_rate_limited,
            r.wins_inflight_limited, r.wins_permission_denied,
            r.wins_invalid_response, r.wins_retry_no_queue,
            r.wins_median_latency_high, r.wins_max_latency_high,
        ) == (
            p["rate"], p["bytes"], p["inflight"], p["perm"],
            p["invalid"], p["noq"], p["med"], p["max"],
        ), key
        want = (
            "UNHEALTHY" if p["dlq"] >= DLQ_UNHEALTHY
            else "DEGRADED" if p["lag"] > LAG_DEGRADED
            else "HEALTHY"
        )
        assert r.health == want, key


def _bpe_reference_train(freq, steps):
    """Pure-Python reference BPE trainer (Sennrich get_stats/merge_vocab
    shape) shared by the D97 and D98 replays: returns (merge table rows,
    final segmentations). ONE definition so the two property tests
    cannot assert different reference semantics."""
    from collections import Counter

    segs = {w: list(w) + ["</w>"] for w in freq}
    merges = []
    for step in range(1, steps + 1):
        pairs = Counter()
        for w, syms in segs.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += freq[w]
        if not pairs:
            break
        (l, r), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, cnt))
        for w, syms in segs.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            segs[w] = out
    return merges, segs


def test_bpe_train_equals_python_replay(spark):
    """D97 invariant: the K-step merge table at sf0.001 equals a
    pure-Python reference BPE trainer (Sennrich get_stats/merge_vocab
    shape: word-freq table, per-step pair count, leftmost-greedy
    non-overlapping re-segmentation) — the third independent
    implementation besides the Spark fold and the DuckDB recursive
    CTE."""
    import re
    from collections import Counter

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import BPE_STEPS, bpe_train_merges

    rows = duckdb.sql(
        f"SELECT text FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    freq = Counter()
    for (text,) in rows:
        freq.update(t for t in re.split("[^a-z0-9]+", text.lower()) if t)
    merges, _segs = _bpe_reference_train(freq, BPE_STEPS)

    got = sorted(tuple(r) for r in bpe_train_merges(spark, SF_SMALL).collect())
    assert got == merges


def test_bpe_apply_equals_python_replay(spark):
    """D98 invariant: per-source fertility/compression at sf0.001 equal
    a pure-Python apply of the replayed D97 trainer's final
    segmentations to the corpus word occurrences."""
    import re
    from collections import Counter, defaultdict

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import BPE_STEPS, bpe_apply_fertility

    rows = duckdb.sql(
        f"SELECT doc_id, source, text FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    tok = lambda s: [t for t in re.split("[^a-z0-9]+", s.lower()) if t]  # noqa: E731
    freq = Counter()
    for _d, _s, text in rows:
        freq.update(tok(text))
    _merges, segs = _bpe_reference_train(freq, BPE_STEPS)

    agg = defaultdict(lambda: [set(), 0, 0, 0])  # docs, ws, bpe, chars
    for doc_id, source, text in rows:
        for w in tok(text):
            a = agg[source]
            a[0].add(doc_id)
            a[1] += 1
            a[2] += len(segs[w])
            a[3] += len(w)
    got = {r.source: r for r in bpe_apply_fertility(spark, SF_SMALL).collect()}
    assert set(got) == set(agg)
    for src, (docs_set, ws, bpe, chars) in agg.items():
        r = got[src]
        assert (r.n_docs, r.ws_tokens, r.bpe_tokens, r.n_chars) == (
            len(docs_set), ws, bpe, chars
        ), src
        assert abs(r.fertility - round(bpe / ws, 6)) <= 1e-9
        assert abs(r.chars_per_token - round(chars / bpe, 6)) <= 1e-9
        assert r.fertility > 1.0  # '</w>' guarantees >= 1 subword per word


def test_bpe_merge_exhaustion_matches_oracle(spark):
    """Review r08 regression: a corpus supporting fewer than BPE_STEPS
    merges must NOT annihilate the vocabulary — Spark's loop breaks on
    an empty winner (the checkpointed frame makes the check free) and
    the final segmentations pass through, exactly the oracle's
    NULL-scalar-subquery behavior. Verified end-to-end: the Spark
    operator equals the DuckDB apply oracle on a one-doc corpus where
    merges exhaust after two steps."""
    import os
    import tempfile

    import duckdb

    from uforwarder_spark.functions.text import (
        BPE_APPLY_ORACLE,
        _bpe_words_frame,
        bpe_apply_fertility,
        bpe_train_frames,
    )

    tmp = tempfile.mkdtemp(prefix="bpeexh")
    docs = spark.createDataFrame(
        [(1, "ab ab", "en", "s0", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    docs.coalesce(1).write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))

    merges, final = bpe_train_frames(_bpe_words_frame(docs))
    got_merges = sorted(tuple(r) for r in merges.collect())
    # 'ab' -> a b </w>: step1 merges the winning pair, step2 the next,
    # then the single word is one symbol and no pairs remain
    assert 1 <= len(got_merges) <= 2
    finals = final.collect()
    assert len(finals) == 1 and finals[0].sym_str == "ab</w>"  # NOT annihilated

    got = sorted(tuple(r) for r in bpe_apply_fertility(spark, tmp).collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp}/documents.parquet/*.parquet')"
    )
    want = sorted(tuple(r) for r in con.execute(BPE_APPLY_ORACLE).fetchall())
    assert got == want


@_parametrize_parity_sfs()
def test_unigram_lm_replay(spark, sf_dir):
    """D99/D100 property replay — a third, pure-Python implementation
    of the whole hard-EM chain (seed → K × (Viterbi E-step, prune,
    +1-smoothed M-step) → fertility) from the parquet bytes, compared
    value-for-value against the Spark operators at both parity SFs.
    Every score is an integer micro-unit BIGINT, so the replay is
    bit-exact, including the (score, last-piece-length) tie-break."""
    import duckdb

    from uforwarder_spark.functions.text import (
        SP_MAXL,
        SP_MULTI_KEEP,
        SP_SEED_MULTI,
        unigram_lm_fertility,
        unigram_lm_train,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    tok = "list_filter(string_split_regex(lower(text),'[^a-z0-9]+'), t -> t <> '')"
    words = dict(
        con.execute(
            f"SELECT word, count(*) FROM (SELECT unnest({tok}) AS word "
            f"FROM documents) GROUP BY word"
        ).fetchall()
    )
    occ = con.execute(
        f"SELECT source, word, count(*) FROM (SELECT source, unnest({tok}) AS word "
        f"FROM documents) GROUP BY source, word"
    ).fetchall()
    ndocs = dict(
        con.execute(
            f"SELECT source, count(DISTINCT doc_id) FROM documents "
            f"WHERE len({tok}) > 0 GROUP BY source"
        ).fetchall()
    )
    con.close()

    # one shared pure-Python trainer (review r09: this block was an
    # inline duplicate of _uni_py_train — two 'third implementations'
    # that could drift; the shared one's docstring promise now holds)
    kept, lp, viterbi = _uni_py_train(words)

    # --- train: piece set, counts, logprobs, ranks ---
    got = {r.piece: r for r in unigram_lm_train(spark, sf_dir).collect()}
    assert set(got) == set(kept)
    ranks = {
        p: i + 1
        for i, p in enumerate(
            sorted(kept, key=lambda p: (-kept[p], p))
        )
    }
    for p, r in got.items():
        assert r.em_cnt == kept[p], p
        assert int(round(r.logprob * 1e8)) == lp[p], p
        assert r.piece_len == len(p) and r.vrank == ranks[p], p
    # non-vacuous: multi-char pieces survive with real usage counts
    assert any(len(p) > 1 and kept[p] > 0 for p in kept)

    # --- fertility: per-source aggregates under the final model ---
    npieces = {w: len(viterbi(w, lp)) for w in words}
    exp: dict = {}
    for source, word, c in occ:
        d = exp.setdefault(source, [0, 0, 0])  # ws, sp, chars
        d[0] += c
        d[1] += c * npieces[word]
        d[2] += c * len(word)
    rows = {r.source: r for r in unigram_lm_fertility(spark, sf_dir).collect()}
    assert set(rows) == set(exp)
    for s, (ws, sp, ch) in exp.items():
        r = rows[s]
        assert (r.n_docs, r.ws_tokens, r.sp_tokens, r.n_chars) == (
            ndocs[s], ws, sp, ch,
        ), s
        assert abs(r.fertility - round(sp / ws, 6)) <= 1e-9
        assert abs(r.chars_per_token - round(ch / sp, 6)) <= 1e-9


def _uni_py_train(words: dict):
    """Pure-Python twin of sp_train_frames (third implementation) —
    shared by the parquet replay above and the synthetic-corpus
    property test below."""
    import math

    from uforwarder_spark.functions.text import (
        SP_MAXL,
        SP_MULTI_KEEP,
        SP_SEED_MULTI,
    )

    def lp_of(cnts, smooth):
        t = sum(c + smooth for c in cnts.values())
        return {
            p: int(round(round(math.log((c + smooth) / t), 8) * 1e8))
            for p, c in cnts.items()
        }

    def viterbi(word, lp):
        n = len(word)
        best = [(0, 0)] + [None] * n
        for k in range(1, n + 1):
            b = None
            for l in range(1, min(SP_MAXL, k) + 1):
                v = lp.get(word[k - l : k])
                if v is None or best[k - l] is None:
                    continue
                cand = (best[k - l][0] + v, l)
                if b is None or cand > b:
                    b = cand
            best[k] = b
        pieces, k = [], n
        while k > 0:
            l = best[k][1]
            pieces.append(word[k - l : k])
            k -= l
        return pieces

    cnt: dict = {}
    for w, f in words.items():
        for L in range(1, SP_MAXL + 1):
            for s in range(len(w) - L + 1):
                p = w[s : s + L]
                cnt[p] = cnt.get(p, 0) + f
    chars = {p: c for p, c in cnt.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in cnt.items() if len(p) > 1),
        key=lambda x: (-x[1], x[0]),
    )[:SP_SEED_MULTI]
    kept = dict(chars) | dict(multi)
    lp = lp_of(kept, 0)
    for keep in SP_MULTI_KEEP:
        c2 = {p: 0 for p in lp}
        for w, f in words.items():
            for p in viterbi(w, lp):
                c2[p] += f
        chars = {p: c for p, c in c2.items() if len(p) == 1}
        multi = sorted(
            ((p, c) for p, c in c2.items() if len(p) > 1),
            key=lambda x: (-x[1], x[0]),
        )[:keep]
        kept = dict(chars) | dict(multi)
        lp = lp_of(kept, 1)
    return kept, lp, viterbi


def test_unigram_lm_synthetic_corpora(spark):
    """D99 edge-case property: the Spark training chain must equal the
    pure-Python model on synthetic corpora the parquet testdata cannot
    produce — a two-letter alphabet forcing massive count TIES (the
    (count, piece) prune tie-break and the (score, length) DP
    tie-break both load-bearing), multi-piece budgets LARGER than the
    candidate pool (prune keeps everything), words shorter than the
    max piece length, and a single-char-only corpus (zero multi-char
    candidates end-to-end)."""
    from uforwarder_spark.functions.text import sp_train_frames

    corpora = [
        # tie-heavy: ab-alphabet, repeated structures
        {"ab": 10, "ba": 10, "aab": 10, "abb": 10, "a": 7, "b": 7},
        # budget exhaustion: fewer multi candidates than every keep
        {"ab": 3, "b": 2},
        # single-char-only corpus: no multi-char pieces exist
        {"a": 5},
        # words shorter than SP_MAXL mixed with one long repeat
        {"abababab": 4, "ab": 9, "ba": 9},
    ]
    for words in corpora:
        kept, lp, _viterbi = _uni_py_train(words)
        wdf = spark.createDataFrame(
            [(w, f) for w, f in words.items()], "word string, freq long"
        )
        got = {
            r.piece: (r.cnt, r.lp)
            for r in sp_train_frames(wdf).select("piece", "cnt", "lp").collect()
        }
        assert set(got) == set(kept), (words, set(got) ^ set(kept))
        for p in kept:
            assert got[p] == (kept[p], lp[p]), (words, p, got[p], (kept[p], lp[p]))


def test_markov_pairs_frame_hot_key_equals_python(spark):
    """D91 adjacency on a hot-key frame: one user owns ~99% of rows,
    with duplicate timestamps every 3 events so equal-ts ordering
    (broken by event_id) matters. The transition counts must equal a
    pure-Python adjacency count under (ts, event_id) order."""
    from collections import Counter

    from pyspark.sql import functions as F

    from uforwarder_spark.operators.timeseries import markov_pairs_frame

    def cnts(df):
        return sorted(
            map(tuple, df.groupBy("event_from", "event_to").count().collect())
        )

    rows, eid = [], 0
    for i in range(900):
        rows.append((1, 1000 + i // 3, eid, ["a", "b", "c", "d"][eid % 4]))
        eid += 1
    for i in range(12):
        rows.append((2, 1000 + i * 25, eid, ["a", "b", "c"][eid % 3]))
        eid += 1
    hot = (
        spark.createDataFrame(
            rows, "user_id long, tsec long, event_id long, event_type string"
        ).select(
            "user_id", F.col("tsec").cast("timestamp").alias("ts"),
            "event_id", "event_type",
        )
    )
    c, byu = Counter(), {}
    for u, tsec, e, ty in rows:
        byu.setdefault(u, []).append((tsec, e, ty))
    for seq in byu.values():
        seq.sort()
        for i in range(len(seq) - 1):
            c[(seq[i][2], seq[i + 1][2])] += 1
    py = sorted((f, t, n) for (f, t), n in c.items())
    assert cnts(markov_pairs_frame(hot)) == py


def test_sessions_frame_equals_python_sessionizer(spark):
    """C10 session assignment against a pure-Python sessionizer on the
    hard cases: one session spanning the whole time span (events every
    10 min), gaps of exactly 1799 / 1800 / 1801 s, a user with no
    events in the middle of the span, and a single-event user."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from uforwarder_spark.plans.relational import SESSION_GAP_S, sessions_frame

    def sess(df):
        return sorted(
            map(
                tuple,
                sessions_frame(df)
                .groupBy("user_id", "session_id")
                .agg(
                    F.count("*").alias("n"),
                    (
                        F.expr("CAST(unix_timestamp(max(ts)) AS BIGINT)")
                        - F.expr("CAST(unix_timestamp(min(ts)) AS BIGINT)")
                    ).alias("d"),
                )
                .collect(),
            )
        )

    rows, eid = [], 0
    for i in range(200):  # one giant session spanning the whole span
        rows.append((1, 600 * i, eid))
        eid += 1
    for i in range(40):  # 2h gap then a second burst
        rows.append((1, 600 * 200 + 7200 + 300 * i, eid))
        eid += 1
    # threshold edges: gaps of exactly 1799 / 1800 / 1801 s — the
    # at-threshold 1800 gap pins the rule's STRICT '>' (a regression
    # to '>=' passes on 1799 and 1801 alike); user 2 then has no
    # events across most of user 1's span
    for t in [0, 1799, 3599, 5400, 5402, 200000, 200001]:
        rows.append((2, t, eid))
        eid += 1
    rows.append((3, 123456, eid))  # single-event user
    df = (
        spark.createDataFrame(rows, "user_id long, tsec long, event_id long")
        .select("user_id", F.col("tsec").cast("timestamp").alias("ts"), "event_id")
    )
    byu = defaultdict(list)
    for u, t, e in rows:
        byu[u].append((t, e))
    py = []
    for u, seq in byu.items():
        seq.sort()
        sid, cur = 0, [seq[0]]
        for prev, nxt in zip(seq, seq[1:]):
            if nxt[0] - prev[0] > SESSION_GAP_S:
                py.append((u, sid, len(cur), cur[-1][0] - cur[0][0]))
                sid, cur = sid + 1, [nxt]
            else:
                cur.append(nxt)
        py.append((u, sid, len(cur), cur[-1][0] - cur[0][0]))
    assert sess(df) == sorted(py)


def _wp_reference_train(freq, steps):
    """Pure-Python reference WordPiece trainer — _bpe_reference_train
    with the Schuster-Nakajima pick: maximize cnt/(count(l)·count(r)),
    computed with the SAME IEEE-double expression shape the Spark and
    DuckDB sides use (float(cnt) / (float(lc) * float(rc))), ties
    (l, r). Returns (merge table rows incl. symbol counts, final
    segmentations)."""
    from collections import Counter

    segs = {w: list(w) + ["</w>"] for w in freq}
    merges = []
    for step in range(1, steps + 1):
        pairs = Counter()
        syms = Counter()
        for w, ss in segs.items():
            for a, b in zip(ss, ss[1:]):
                pairs[(a, b)] += freq[w]
            for s in ss:
                syms[s] += freq[w]
        if not pairs:
            break
        (l, r), cnt = min(
            pairs.items(),
            key=lambda kv: (
                -(float(kv[1]) / (float(syms[kv[0][0]]) * float(syms[kv[0][1]]))),
                kv[0],
            ),
        )
        merges.append((step, l, r, cnt, syms[l], syms[r]))
        for w, ss in segs.items():
            out, i = [], 0
            while i < len(ss):
                if i + 1 < len(ss) and ss[i] == l and ss[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(ss[i])
                    i += 1
            segs[w] = out
    return merges, segs


def test_wordpiece_train_equals_python_replay(spark):
    """D101 invariant: the K-step WordPiece merge table at sf0.001
    equals a pure-Python reference trainer (likelihood-gain pick over
    the same leftmost-greedy merge mechanics) — the third independent
    implementation besides the Spark chain and the DuckDB recursive
    CTE. Also asserts the pick rule genuinely DIVERGES from BPE's on
    this corpus (otherwise the test would vacuously re-prove D97)."""
    import re
    from collections import Counter

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import WP_STEPS, wordpiece_train_merges

    rows = duckdb.sql(
        f"SELECT text FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    freq = Counter()
    for (text,) in rows:
        freq.update(t for t in re.split("[^a-z0-9]+", text.lower()) if t)
    merges, _segs = _wp_reference_train(freq, WP_STEPS)

    got = sorted(tuple(r) for r in wordpiece_train_merges(spark, SF_SMALL).collect())
    assert got == sorted(merges)

    bpe_merges, _ = _bpe_reference_train(freq, WP_STEPS)
    assert [(l, r) for _s, l, r, *_ in merges] != [
        (l, r) for _s, l, r, _c in bpe_merges
    ], "WordPiece pick did not diverge from BPE on this corpus"


def test_wordpiece_apply_equals_python_replay(spark):
    """D102 invariant: per-source fertility/compression at sf0.001
    equal a pure-Python apply of the replayed D101 trainer's final
    segmentations — and the per-source fertility genuinely differs
    from D98's BPE fertility somewhere (the two families earn their
    separate keys)."""
    import re
    from collections import Counter, defaultdict

    import duckdb

    from tests.conftest import SF_SMALL
    from uforwarder_spark.functions.text import WP_STEPS, wordpiece_apply_fertility

    rows = duckdb.sql(
        f"SELECT doc_id, source, text FROM read_parquet('{SF_SMALL}/documents.parquet')"
    ).fetchall()
    tok = lambda s: [t for t in re.split("[^a-z0-9]+", s.lower()) if t]  # noqa: E731
    freq = Counter()
    for _d, _s, text in rows:
        freq.update(tok(text))
    _merges, segs = _wp_reference_train(freq, WP_STEPS)

    agg = defaultdict(lambda: [set(), 0, 0, 0])
    for doc_id, source, text in rows:
        for w in tok(text):
            a = agg[source]
            a[0].add(doc_id)
            a[1] += 1
            a[2] += len(segs[w])
            a[3] += len(w)
    got = {r.source: r for r in wordpiece_apply_fertility(spark, SF_SMALL).collect()}
    assert set(got) == set(agg)
    for src, (docs_set, ws, wp, chars) in agg.items():
        r = got[src]
        assert (r.n_docs, r.ws_tokens, r.wp_tokens, r.n_chars) == (
            len(docs_set), ws, wp, chars
        ), src
        assert abs(r.fertility - round(wp / ws, 6)) <= 1e-9
        assert abs(r.chars_per_token - round(chars / wp, 6)) <= 1e-9
        assert r.fertility > 1.0


def test_markov_pairs_frame_null_ts_sorts_first(spark):
    """D91 adjacency on a frame with NULL timestamps: the window sort
    (`orderBy ts asc`) places NULL-ts rows FIRST in each user's
    sequence. Pinned against a pure-Python count under that order
    (NULLs first, then (ts, event_id) asc)."""
    from collections import Counter

    from pyspark.sql import functions as F

    from uforwarder_spark.operators.timeseries import markov_pairs_frame

    rows = []
    eid = 0
    for u in (1, 2):
        for i in range(30):
            rows.append((u, 1000 + 60 * i, eid, f"t{eid % 3}"))
            eid += 1
        rows.append((u, None, eid, f"t{eid % 3}"))  # NULL ts per user
        eid += 1
    df = spark.createDataFrame(
        rows, "user_id long, tsec long, event_id long, event_type string"
    ).select(
        "user_id", F.col("tsec").cast("timestamp").alias("ts"),
        "event_id", "event_type",
    )
    got = sorted(
        map(
            tuple,
            markov_pairs_frame(df).groupBy("event_from", "event_to").count().collect(),
        )
    )
    byu = {}
    for u, t, e, ty in rows:
        byu.setdefault(u, []).append((t is not None, t or 0, e, ty))
    c = Counter()
    for seq in byu.values():
        seq.sort()
        for i in range(len(seq) - 1):
            c[(seq[i][3], seq[i + 1][3])] += 1
    assert got == sorted((f, t, n) for (f, t), n in c.items())


def test_dsir_lr_literals_equal_spark_expression(spark):
    """D63 round-10 stage cut: the driver-side JVM-log evaluation of
    the bucket log-ratios must equal dsir_ratio_frame's Spark
    expression bucket-for-bucket (same Math.log, same IEEE shapes,
    same HALF_UP 8-dp quantize) — on the real corpus counts at both
    SFs AND on adversarial synthetic counts (zero / huge / skewed)."""
    from decimal import Decimal

    from pyspark.sql import functions as F

    from tests.conftest import SF_MED, SF_SMALL
    from uforwarder_spark.model import load_parallel
    from uforwarder_spark.operators.training import (
        dsir_counts_frame,
        dsir_lr_literals,
        dsir_ratio_frame,
        dsir_token_buckets_frame,
    )

    def check(cnt_rows):
        want = {
            int(r.b): str(r.lr)
            for r in dsir_ratio_frame(
                spark.createDataFrame(cnt_rows, "b bigint, ct bigint, cr bigint")
            ).collect()
        }
        got = dsir_lr_literals(spark, cnt_rows)
        assert set(got) == set(want)
        for b in want:
            assert Decimal(got[b]) == Decimal(want[b]), (b, got[b], want[b])

    for sf in (SF_SMALL, SF_MED):
        docs = load_parallel(spark, sf, "documents").select(
            "doc_id",
            "text",
            F.expr("CAST(substring(source, 4) AS INT) % 2").alias("side"),
        )
        cnt = [
            (int(r.b), int(r.ct), int(r.cr))
            for r in dsir_counts_frame(dsir_token_buckets_frame(docs)).collect()
        ]
        check(cnt)

    check([(0, 0, 1), (1, 1, 0), (2, 0, 0), (3, 7, 13)])
    check([(b, (b * 2654435761) % 10**9, (b * 40503) % 7) for b in range(256)])
    check([(5, 2**52 + 1, 3), (6, 1, 2**52 - 1)])


# --- D105: sentence span dedup (C4 keep-one rule) -------------------------
_sent_words = st.lists(
    st.sampled_from(
        [f"w{i}" for i in range(12)]
        + ["the", "a", "of", "to", "in"]  # terminators (STOPWORDS subset)
    ),
    min_size=4,
    max_size=40,
)


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_sent_words, min_size=2, max_size=8),
    plant=st.lists(st.booleans(), min_size=2, max_size=8),
)
def test_sentence_span_dedup_equals_python_replay(
    spark, tmp_path_factory, texts, plant
):
    """D105 invariant: per-doc sentence accounting and the cleaned
    identity equal a pure-Python replay of the C4 keep-one rule —
    stopword-terminated sentence split, 3-sentence window fingerprints,
    global canonical = lexicographic (doc_id, p) min per repeated
    window, island merge (gap > 3), covered-sentence cut. A planted
    multi-sentence block shared by a doc subset guarantees real
    repeats; the replay must agree on which occurrence survives."""
    import hashlib
    from collections import Counter

    from uforwarder_spark.functions.tokenize import STOPWORDS
    from uforwarder_spark.operators.dedup import SENT_S, sentence_span_dedup

    sw = set(STOPWORDS)
    block = "w1 w2 the w3 w4 of w5 w6 in w7 to"  # 4+ sentences when planted
    docs = [
        " ".join(t) + (" " + block if i < len(plant) and plant[i] else "")
        for i, t in enumerate(texts)
    ]
    d = tmp_path_factory.mktemp("sent_span")
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    def sents_of(text):
        toks = [t for t in text.lower().split() if t]
        out, cur = [], []
        for t in toks:
            cur.append(t)
            if t in sw:
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    sents = {i: sents_of(t) for i, t in enumerate(docs)}
    sents = {i: s for i, s in sents.items() if len(s) >= SENT_S}
    wins = {
        i: ["|".join(s[p : p + SENT_S]) for p in range(len(s) - SENT_S + 1)]
        for i, s in sents.items()
    }
    cnt = Counter()
    for ws in wins.values():
        cnt.update(ws)
    canon = {}
    for i in sorted(wins):
        for p, wstr in enumerate(wins[i]):
            if cnt[wstr] > 1 and wstr not in canon:
                canon[wstr] = (i, p)  # first (doc_id, p) in lex order
    want = {}
    for i, s in sents.items():
        pos = sorted(
            p
            for p, wstr in enumerate(wins[i])
            if cnt[wstr] > 1 and canon[wstr] != (i, p)
        )
        # island merge: gap > SENT_S starts a new span
        spans = []
        for p in pos:
            if spans and p - spans[-1][1] <= SENT_S:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        covered = set()
        for p0, p1 in spans:
            covered.update(range(p0, p1 + SENT_S))
        kept = [x for j, x in enumerate(s) if j not in covered]
        want[i] = (
            len(s),
            len(pos),
            len(spans),
            len(kept),
            len(s) - len(kept),
            hashlib.md5("|".join(kept).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (
            r.n_sentences,
            r.n_dup_windows,
            r.n_spans,
            r.n_sentences_kept,
            r.n_sentences_cut,
            r.cleaned_md5,
        )
        for r in sentence_span_dedup(spark, str(d)).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_sent_words, min_size=2, max_size=8),
    plant=st.lists(st.booleans(), min_size=2, max_size=8),
)
def test_incr_sentence_span_dedup_equals_python_replay(
    spark, tmp_path_factory, texts, plant
):
    """D106 invariant: the at-ingest form equals a pure-Python replay —
    incoming (odd-source) sentence windows matching ANY existing
    (even-source) window get island-merged and cut; existing docs are
    never touched and incoming-vs-incoming repeats are NOT cut (the
    corpus is the only canonical)."""
    import hashlib

    from uforwarder_spark.functions.tokenize import STOPWORDS
    from uforwarder_spark.operators.dedup import SENT_S, incr_sentence_span_dedup

    sw = set(STOPWORDS)
    block = "w1 w2 the w3 w4 of w5 w6 in w7 to"
    docs = [
        " ".join(t) + (" " + block if i < len(plant) and plant[i] else "")
        for i, t in enumerate(texts)
    ]
    d = tmp_path_factory.mktemp("incr_sent")
    rows = [(i, t, "en", f"src{i % 4}", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    def sents_of(text):
        out, cur = [], []
        for t in text.lower().split():
            cur.append(t)
            if t in sw:
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    sents = {i: sents_of(t) for i, t in enumerate(docs)}
    sents = {i: s for i, s in sents.items() if len(s) >= SENT_S}
    wins = {
        i: ["|".join(s[p : p + SENT_S]) for p in range(len(s) - SENT_S + 1)]
        for i, s in sents.items()
    }
    ex_wins = set()
    for i, ws in wins.items():
        if i % 4 in (0, 2):  # even sources = existing corpus
            ex_wins.update(ws)
    want = {}
    for i, s in sents.items():
        if i % 4 in (0, 2):
            continue  # only incoming docs emit
        pos = sorted(p for p, wstr in enumerate(wins[i]) if wstr in ex_wins)
        spans = []
        for p in pos:
            if spans and p - spans[-1][1] <= SENT_S:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        covered = set()
        for p0, p1 in spans:
            covered.update(range(p0, p1 + SENT_S))
        kept = [x for j, x in enumerate(s) if j not in covered]
        want[i] = (
            len(s), len(pos), len(spans), len(kept), len(s) - len(kept),
            hashlib.md5("|".join(kept).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (
            r.n_sentences, r.n_dup_windows, r.n_spans,
            r.n_sentences_kept, r.n_sentences_cut, r.cleaned_md5,
        )
        for r in incr_sentence_span_dedup(spark, str(d)).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_sent_words, min_size=2, max_size=8),
    plant=st.lists(st.booleans(), min_size=2, max_size=8),
)
def test_line_dedup_equals_python_replay(spark, tmp_path_factory, texts, plant):
    """D107 invariant: the RefinedWeb line rule equals a pure-Python
    replay of D105's keep-one machinery at span 1 — every repeated
    line keeps its lexicographic-first occurrence, runs of adjacent
    cut lines collapse into one span."""
    import hashlib
    from collections import Counter

    from uforwarder_spark.functions.tokenize import STOPWORDS
    from uforwarder_spark.operators.dedup import line_dedup

    sw = set(STOPWORDS)
    block = "w1 w2 the w3 w4 of"
    docs = [
        " ".join(t) + (" " + block if i < len(plant) and plant[i] else "")
        for i, t in enumerate(texts)
    ]
    d = tmp_path_factory.mktemp("line_dedup")
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    def sents_of(text):
        out, cur = [], []
        for t in text.lower().split():
            cur.append(t)
            if t in sw:
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    sents = {i: s for i, s in ((i, sents_of(t)) for i, t in enumerate(docs)) if s}
    cnt = Counter()
    for s in sents.values():
        cnt.update(s)
    canon = {}
    for i in sorted(sents):
        for p, line in enumerate(sents[i]):
            if cnt[line] > 1 and line not in canon:
                canon[line] = (i, p)
    want = {}
    for i, s in sents.items():
        pos = sorted(
            p for p, line in enumerate(s) if cnt[line] > 1 and canon[line] != (i, p)
        )
        spans = []
        for p in pos:
            if spans and p - spans[-1][1] <= 1:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        kept = [x for j, x in enumerate(s) if j not in set(pos)]
        want[i] = (
            len(s), len(pos), len(spans), len(kept), len(pos),
            hashlib.md5("|".join(kept).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (
            r.n_sentences, r.n_dup_windows, r.n_spans,
            r.n_sentences_kept, r.n_sentences_cut, r.cleaned_md5,
        )
        for r in line_dedup(spark, str(d)).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(st.lists(st.sampled_from([f"w{i}" for i in range(9)]),
                            min_size=13, max_size=40), min_size=3, max_size=8),
    quote=st.booleans(),
)
def test_contamination_fraction_equals_python_replay(
    spark, tmp_path_factory, texts, quote
):
    """D108 invariant: per-doc covered-token mass, fraction and tier
    equal a pure-Python replay of the Llama-2 rule — eval docs are
    hash(doc_id)-selected, coverage is the union of matched 13-gram
    windows, tiers compare on integer cross-multiplication."""
    import hashlib

    from uforwarder_spark.operators.dedup import (
        EVAL_MOD,
        NGRAM_DECON_N,
        contamination_fraction,
    )

    def is_eval(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % EVAL_MOD == 0

    # deterministic ids: the first text lands on the smallest eval id,
    # the rest on the smallest non-eval ids — at least one eval doc
    # always exists, whatever hypothesis generated
    eval_id = next(i for i in range(10_000) if is_eval(i))
    non_eval_ids = []
    i = 0
    while len(non_eval_ids) < len(texts) - 1:
        if not is_eval(i):
            non_eval_ids.append(i)
        i += 1
    texts_map = {eval_id: texts[0]}
    for j, t in enumerate(texts[1:]):
        texts_map[non_eval_ids[j]] = t
    if quote and non_eval_ids and len(texts_map[eval_id]) >= NGRAM_DECON_N:
        # quote a 13-gram of the eval doc inside the first non-eval doc
        texts_map[non_eval_ids[0]] = (
            texts_map[non_eval_ids[0]] + texts_map[eval_id][:NGRAM_DECON_N]
        )
    d = tmp_path_factory.mktemp("contam_frac")
    rows = [
        (i, " ".join(t), "en", f"src{i % 3}", len(" ".join(t)))
        for i, t in sorted(texts_map.items())
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    N = NGRAM_DECON_N
    eval_grams = set()
    for i, t in texts_map.items():
        if is_eval(i):
            eval_grams.update(
                " ".join(t[p : p + N]) for p in range(len(t) - N + 1)
            )
    want = {}
    for i, t in texts_map.items():
        if is_eval(i):
            continue
        pos = [
            p for p in range(max(0, len(t) - N + 1))
            if " ".join(t[p : p + N]) in eval_grams
        ]
        covered = set()
        spans = []
        for p in pos:
            if spans and p - spans[-1][1] <= N:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        for p0, p1 in spans:
            covered.update(range(p0, p1 + N))
        cov, n = len(covered), len(t)
        tier = "dirty" if cov * 5 >= n * 4 else ("not_clean" if cov * 5 >= n else "clean")
        want[i] = (n, len(pos), len(spans), cov, round(cov / n, 6), tier)
    got = {
        r.doc_id: (
            r.n_tokens, r.n_matched_windows, r.n_spans,
            r.n_tokens_contaminated, r.contam_frac, r.verdict,
        )
        for r in contamination_fraction(spark, str(d)).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None, derandomize=True, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(_sent_words, min_size=2, max_size=8),
    plant=st.lists(st.booleans(), min_size=2, max_size=8),
)
def test_paragraph_span_dedup_equals_python_replay(
    spark, tmp_path_factory, texts, plant
):
    """D109 invariant: the MassiveText paragraph rule equals a pure-
    Python replay of the keep-one machinery at span 1 over PARA_G-
    sentence paragraph blocks — every repeated paragraph keeps its
    lexicographic-first occurrence; runs of adjacent cut paragraphs
    collapse into one span; the trailing partial block is its own
    paragraph."""
    import hashlib
    from collections import Counter

    from uforwarder_spark.functions.tokenize import STOPWORDS
    from uforwarder_spark.operators.dedup import PARA_G, paragraph_span_dedup

    sw = set(STOPWORDS)
    # a full PARA_G-sentence block planted verbatim so repeats exist
    block = "w1 w2 the w3 w4 of w5 w6 to w7 w8 and"
    docs = [
        (block + " " if i < len(plant) and plant[i] else "") + " ".join(t)
        for i, t in enumerate(texts)
    ]
    d = tmp_path_factory.mktemp("para_dedup")
    rows = [(i, t, "en", f"src{i % 3}", len(t)) for i, t in enumerate(docs)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))

    def sents_of(text):
        out, cur = [], []
        for t in text.lower().split():
            cur.append(t)
            if t in sw:
                out.append(" ".join(cur))
                cur = []
        if cur:
            out.append(" ".join(cur))
        return out

    def paras_of(text):
        s = sents_of(text)
        return [
            " ".join(s[b : b + PARA_G]) for b in range(0, len(s), PARA_G)
        ]

    paras = {i: p for i, p in ((i, paras_of(t)) for i, t in enumerate(docs)) if p}
    cnt = Counter()
    for p in paras.values():
        cnt.update(p)
    canon = {}
    for i in sorted(paras):
        for p, para in enumerate(paras[i]):
            if cnt[para] > 1 and para not in canon:
                canon[para] = (i, p)
    want = {}
    for i, s in paras.items():
        pos = sorted(
            p for p, para in enumerate(s) if cnt[para] > 1 and canon[para] != (i, p)
        )
        spans = []
        for p in pos:
            if spans and p - spans[-1][1] <= 1:
                spans[-1][1] = p
            else:
                spans.append([p, p])
        kept = [x for j, x in enumerate(s) if j not in set(pos)]
        want[i] = (
            len(s), len(pos), len(spans), len(kept), len(pos),
            hashlib.md5("|".join(kept).encode()).hexdigest(),
        )
    got = {
        r.doc_id: (
            r.n_paragraphs, r.n_dup_windows, r.n_spans,
            r.n_paragraphs_kept, r.n_paragraphs_cut, r.cleaned_md5,
        )
        for r in paragraph_span_dedup(spark, str(d)).collect()
    }
    assert got == want
