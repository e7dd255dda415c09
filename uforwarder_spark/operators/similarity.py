"""D6–D7: similarity search over the embedding column — exact brute-force
cosine top-k, and a random-hyperplane-LSH bucketed approximate variant.

Dot products are sequential array folds (Spark ``aggregate`` with 0.0
init == DuckDB ``list_reduce`` left fold) so float summation order — and
therefore every bit of the result — is identical in both engines.

SCALE: brute-force is the per-bucket kernel; the LSH variant is the scale
path: signatures are an O(n) map, candidates come from band-bucket joins
(shuffle on band value, uniform by construction), and only candidates pay
the exact-cosine cost. At 100 TB the per-bucket top-k runs map-side and a
final tiny top-k merge happens on one reducer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..model import load_parallel
from ..registry import register

DIM = 64
N_HYPERPLANES = 16  # 16-bit signature, 4 bands x 4 bits

_DOT_SPARK = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
_DOT_DUCK = "list_reduce(list_transform(range(len({a})), i -> {a}[i+1] * {b}[i+1]), (x, y) -> x + y)"


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persist: the double-cast vectors are reused by several branches
    # (query row, signatures, candidates, final scoring) of each plan.
    # Zero-norm vectors are dropped: their cosine is NaN, and Spark
    # orders NaN as GREATEST, so a single zero vector would sit atop
    # every top-k. (The synthetic tables contain none — this guards
    # real data.)
    return (
        load_parallel(spark, sf_dir, "embeddings")
        .select("vec_id", "label", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"))
        .filter(F.expr("aggregate(v, 0.0D, (a, x) -> a + x * x) > 0"))
        .persist()  # intentionally not unpersisted: the returned plan is
        # lazy, so the frame must stay cached until the caller materializes
        # it; session hygiene is the runner's job (bench clears the cache
        # between queries; long-lived sessions rely on LRU eviction)
    )


def _cos_expr(dialect: str, a: str, b: str) -> str:
    dot = _DOT_SPARK if dialect == "spark" else _DOT_DUCK
    return (
        f"{dot.format(a=a, b=b)} / "
        f"sqrt({dot.format(a=a, b=a)} * {dot.format(a=b, b=b)})"
    )


# --- D6 ------------------------------------------------------------------
ANN_BRUTE_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       round({_cos_expr('duck', 'e.v', 'q.qv')}, 6) AS cosine
FROM e CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY {_cos_expr('duck', 'e.v', 'q.qv')} DESC, e.vec_id
LIMIT 10
"""


@register("ann_topk_bruteforce", ANN_BRUTE_ORACLE)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k against a query vector (vec_id 0): the
    correctness baseline every ANN variant is judged against.

    SCALE: query broadcast to every partition; per-partition top-k then
    a 10-row global merge — no full sort, no wide shuffle."""
    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", F.expr(_cos_expr("spark", "v", "qv")))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cosine"))
    )


# --- D7 ------------------------------------------------------------------
import hashlib


def _hp_weights(j: int) -> list[float]:
    """±1 weights of pseudo-hyperplane j: low bit of md5('<j>:<dim>').
    Precomputed once so neither engine hashes per row — the hyperplane
    matrix is a constant-folded literal (at 100 TB it would be a
    broadcast variable)."""
    return [
        1.0 if int(hashlib.md5(f"{j}:{d}".encode()).hexdigest()[0], 16) % 2 == 1 else -1.0
        for d in range(DIM)
    ]


def _hp_literal(j: int, dialect: str) -> str:
    vals = ", ".join(str(x) for x in _hp_weights(j))
    return f"array({vals})" if dialect == "spark" else f"[{vals}]"


def _hp_dot(dialect: str, j: int, v: str) -> str:
    """Signed dot of v with literal hyperplane j (sequential fold — same
    float order both engines)."""
    w = _hp_literal(j, dialect)
    if dialect == "spark":
        return f"aggregate(zip_with({v}, {w}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    return (
        f"list_reduce(list_transform(range({DIM}), d -> {v}[d + 1] * ({w})[d + 1]), (x, y) -> x + y)"
    )


def _bucket_expr(dialect: str, v: str) -> str:
    bits = [
        f"(CASE WHEN {_hp_dot(dialect, j, v)} > 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(N_HYPERPLANES)
    ]
    return "(" + " + ".join(bits) + ")"


# Spark-side bucket: the hyperplane matrix as ONE nested-array literal and
# a fold over j. Same math as _bucket_expr (the oracle keeps the expanded
# form) but the codegen source is ~16× smaller — large expression trees
# cost seconds of janino compile per plan, which at 1000 executors is pure
# driver-side dead time.
_HP_MATRIX = (
    "array("
    + ", ".join(_hp_literal(j, "spark") for j in range(N_HYPERPLANES))
    + ")"
)
_BUCKET_FOLD = (
    f"aggregate(sequence(0, {N_HYPERPLANES - 1}), 0L, (acc, j) -> acc + "
    f"CASE WHEN aggregate(zip_with({{v}}, {_HP_MATRIX}[j], (x, y) -> x * y), 0.0D, "
    f"(a2, x) -> a2 + x) > 0 THEN shiftleft(1L, j) ELSE 0L END)"
)


_BANDS = [(b, 2 ** (4 * b)) for b in range(4)]


def _band_cols(dialect: str) -> str:
    div = "DIV" if dialect == "spark" else "//"
    return ", ".join(f"((bucket {div} {p}) % 16) AS band{b}" for b, p in _BANDS)


ANN_LSH_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
sig AS (
  SELECT vec_id, label, v, {_bucket_expr('duck', 'v')} AS bucket FROM e
),
banded AS (
  SELECT vec_id, label, v, {_band_cols('duck')} FROM sig
),
band_rows AS (
  SELECT vec_id, 0 AS band, band0 AS bv FROM banded
  UNION ALL SELECT vec_id, 1, band1 FROM banded
  UNION ALL SELECT vec_id, 2, band2 FROM banded
  UNION ALL SELECT vec_id, 3, band3 FROM banded
),
qrows AS (SELECT band, bv FROM band_rows WHERE vec_id = 0),
cand AS (
  SELECT DISTINCT br.vec_id
  FROM band_rows br JOIN qrows q ON br.band = q.band AND br.bv = q.bv
  WHERE br.vec_id <> 0
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       round({_cos_expr('duck', 'e.v', 'q.qv')}, 6) AS cosine
FROM cand JOIN e ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY {_cos_expr('duck', 'e.v', 'q.qv')} DESC, e.vec_id
LIMIT 10
"""


@register("ann_topk_lsh", ANN_LSH_ORACLE)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane (SimHash-for-vectors) 16-bit
    signatures, 4 bands × 4 bits; candidates share ≥1 band with the
    query; exact cosine only on candidates.

    SCALE: signature map is O(n); the band join shuffles only (vec_id,
    band) pairs — 4 rows per vector — and exact cosine touches the
    candidate subset, typically orders of magnitude smaller than n. Bands
    come from ONE explode (not a 4-way union re-scanning the signatures),
    and the bucket is a fold over a nested hyperplane literal so the
    codegen stays small. (Round 10 trialed replacing the candidate
    distinct + inner join with a LEFT SEMI join — row-set-identical,
    one less exchange on paper — but two normal-window bench readings
    and an interleaved A/B measured the semi variant 15-40% SLOWER at
    this size: the distinct'd candidate list broadcasts smaller and
    the inner join reuses it; reverted on that evidence.)"""
    e = _emb(spark, sf_dir)
    band_rows = knn_band_frame(e)  # the shared D7/D76/D77/E34 band table
    qrows = band_rows.filter(F.col("vec_id") == 0).select("band", "bv")
    cand = (
        band_rows.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qrows), ["band", "bv"])
        .select("vec_id")
        .distinct()
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.join(cand, "vec_id")
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", F.expr(_cos_expr("spark", "v", "qv")))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cosine"))
    )


# --- D13 -----------------------------------------------------------------
N_PROBE = 2

ANN_IVF_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
reps AS (
  SELECT e.label, e.v AS rep_v
  FROM e JOIN (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label) r
    ON e.vec_id = r.rep_id
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probed AS (
  SELECT reps.label
  FROM reps CROSS JOIN q
  ORDER BY {_cos_expr('duck', 'reps.rep_v', 'q.qv')} DESC, reps.label
  LIMIT {N_PROBE}
)
SELECT e.vec_id, e.label,
       round({_cos_expr('duck', 'e.v', 'q.qv')}, 6) AS cosine
FROM e JOIN probed USING (label) CROSS JOIN q
WHERE e.vec_id <> 0
ORDER BY {_cos_expr('duck', 'e.v', 'q.qv')} DESC, e.vec_id
LIMIT 10
"""


@register("ann_topk_ivf", ANN_IVF_ORACLE)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: the label column is the coarse
    quantizer's cell id; each cell's representative is its min-vec_id
    member (a deterministic medoid stand-in, so results are bit-exact
    cross-engine — a float centroid mean would not be). Search probes the
    N_PROBE cells whose representative is most query-similar, then scores
    exactly only inside those cells — the IVF nprobe trade-off.

    SCALE: the cell-representative table is O(cells) and broadcast; the
    probe decision is O(cells) work; exact cosine touches only
    |probed cells| / |cells| of the data. At 100 TB the data is
    partitioned by cell so probing prunes whole partitions at the scan."""
    e = _emb(spark, sf_dir)
    rep_ids = e.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
    reps = e.join(F.broadcast(rep_ids), ["label", "vec_id"]).select(
        "label", F.col("v").alias("rep_v")
    )
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    probed = (
        reps.crossJoin(F.broadcast(q))
        .withColumn("rep_cos", F.expr(_cos_expr("spark", "rep_v", "qv")))
        .orderBy(F.col("rep_cos").desc(), "label")
        .limit(N_PROBE)
        .select("label")
    )
    return (
        e.join(F.broadcast(probed), "label")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", F.expr(_cos_expr("spark", "v", "qv")))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 6).alias("cosine"))
    )


# --- D31 -----------------------------------------------------------------
# Per-dimension scalar int8 quantization: the standard compression step
# before ANN at scale (4x memory cut; IVF/HNSW libraries quantize this
# way when a trained PQ codebook is overkill). Deterministic: codebook =
# exact per-dimension [min, max], q = round(255·(x−min)/(max−min)) − 128.
INT8_QUANT_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
dims AS (
  SELECT i, min(v[i + 1]) AS mn, max(v[i + 1]) AS mx
  FROM e, unnest(range(len(v))) AS t(i)
  GROUP BY i
),
code AS (
  SELECT list(mn ORDER BY i) AS mins,
         list((mx - mn) / 255.0 ORDER BY i) AS scales
  FROM dims
),
q AS (
  SELECT vec_id, label, v,
         list_transform(range(len(v)),
           i -> CASE WHEN scales[i + 1] = 0 THEN mins[i + 1]
                     ELSE least(greatest(
                            round((v[i + 1] - mins[i + 1]) / scales[i + 1]), 0), 255)
                          * scales[i + 1] + mins[i + 1] END) AS r
  FROM e CROSS JOIN code
),
err AS (
  SELECT vec_id, label,
         sqrt(list_reduce(list_transform(range(len(v)),
                i -> (v[i + 1] - r[i + 1]) * (v[i + 1] - r[i + 1])),
              (x, y) -> x + y) / len(v)) AS rmse_raw,
         list_max(list_transform(range(len(v)), i -> abs(v[i + 1] - r[i + 1]))) AS maxerr_raw,
         {_cos_expr('duck', 'v', 'r')} AS cos_raw
  FROM q
)
SELECT vec_id, label,
       round(rmse_raw, 6) AS rmse,
       round(maxerr_raw, 6) AS max_abs_err,
       round(cos_raw, 6) AS cos_recon
FROM err
"""


def sq8_codebook(e: DataFrame, sample_fraction: float | None = None) -> DataFrame:
    """The 1-row (mins, scales) SQ8 codebook — per-dimension [min, max]
    ranges folded into broadcastable arrays. Shared by D31 (quantize
    audit), D42 (int8 rescore), and D62 (IVF-SQ8); one definition so
    the three codebooks cannot drift.

    ``sample_fraction`` enables FAISS-style sampled training: the
    min/max pass runs on a seeded Bernoulli sample, cutting the
    build-once pass's exploded rows from O(n·d) to O(n·d·f) — at 100 TB
    you train the codebook on a bounded sample (FAISS uses ~100k
    vectors regardless of corpus size) and the scan/quantize stages are
    unchanged. Two caveats, which is why the default is None (exact):
    (1) a sampled codebook changes the CODES, so any bit-exact oracle
    must share the identical sample — the registry oracles assume the
    full-corpus codebook; (2) out-of-sample values can fall outside the
    sampled [min, max] — which is why every quantize/reconstruct site
    (_RECON_SPARK and the three DuckDB oracle twins) clamps the code
    into [0, 255] with least/greatest around the round: a no-op under
    the exact full-corpus codebook (codes are in-range by
    construction, so oracle hash parity is untouched) and the FAISS
    saturating-cast behavior under a sampled one (out-of-range values
    pin to the nearest representable code; D31's audit columns surface
    the added reconstruction error rather than hide it)."""
    if sample_fraction is not None:
        e = e.sample(fraction=sample_fraction, seed=7)
    dims = (
        e.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    return dims.agg(
        F.expr("array_sort(collect_list(struct(i, mn)))").alias("_mins"),
        F.expr(
            "array_sort(collect_list(struct(i, (mx - mn) / 255.0D AS scale)))"
        ).alias("_scales"),
    ).select(
        F.expr("transform(_mins, s -> s.mn)").alias("mins"),
        F.expr("transform(_scales, s -> s.scale)").alias("scales"),
    )


# Shared int8 reconstruct (dequantize) expression over a broadcast
# (mins, scales) codebook row — used by D31/D42/D62. The
# least/greatest clamp pins the implicit code into [0, 255]: a no-op
# for the exact full-corpus codebook (so the DuckDB-oracle hash parity
# is untouched) and the saturating-cast safety net sq8_codebook's
# sample_fraction path requires for out-of-sample values.
_RECON_SPARK = (
    "transform(v, (x, i) -> CASE WHEN element_at(scales, i + 1) = 0D "
    "THEN element_at(mins, i + 1) "
    "ELSE least(greatest("
    "round((x - element_at(mins, i + 1)) / element_at(scales, i + 1)), 0D), 255D) "
    "* element_at(scales, i + 1) + element_at(mins, i + 1) END)"
)


@register("embedding_int8_quantize", INT8_QUANT_ORACLE)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column with per-vector
    reconstruction audit — rmse, max per-dim error, and cosine between
    the original and the dequantized vector (the number that predicts
    ANN recall loss). The codebook is the exact per-dimension [min, max]
    range; q_i = round(255·(x_i − min_i)/(max_i − min_i)) − 128, stored
    in one byte — a 4x memory cut for D6/D7/D13's scan side.

    SCALE: the codebook pass is one posexplode + (dim)-keyed agg —
    64 groups, map-side partial; the 2·DIM-double codebook broadcasts
    to every executor (a 1-row cross join, the sanctioned pattern);
    quantize + audit are pure per-row array maps with SEQUENTIAL folds
    (Spark aggregate == DuckDB list_reduce left fold) so float
    summation order — and every output bit — is engine-identical. No
    vector ever shuffles.

    Reference analogue: none — training-data prep family (ANN memory
    scaling; same role as FAISS SQ8 storage)."""
    e = _emb(spark, sf_dir)
    code = sq8_codebook(e)
    q = e.crossJoin(F.broadcast(code)).withColumn("r", F.expr(_RECON_SPARK))
    err = q.select(
        "vec_id",
        "label",
        F.expr(
            "sqrt(aggregate(zip_with(v, r, (x, y) -> (x - y) * (x - y)), 0.0D, "
            "(acc, x) -> acc + x) / size(v))"
        ).alias("rmse_raw"),
        F.expr("array_max(zip_with(v, r, (x, y) -> abs(x - y)))").alias("maxerr_raw"),
        F.expr(_cos_expr("spark", "v", "r")).alias("cos_raw"),
    )
    return err.select(
        "vec_id",
        "label",
        F.round("rmse_raw", 6).alias("rmse"),
        F.round("maxerr_raw", 6).alias("max_abs_err"),
        F.round("cos_raw", 6).alias("cos_recon"),
    )


# --- D35 -----------------------------------------------------------------
OUTLIER_COS = 0.10  # below this cosine-to-centroid a vector is an outlier

CENTROID_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) > 0
),
per_dim AS (
  SELECT label, d,
         round(avg(v[d + 1]), 8) AS c
  FROM e, range({DIM}) AS t(d)
  GROUP BY label, d
),
centroids AS (
  SELECT label, list(c ORDER BY d) AS cv, count(*) AS n_dims
  FROM per_dim GROUP BY label
)
SELECT e.vec_id, e.label,
       round(list_reduce(list_transform(range(len(e.v)), i -> e.v[i+1] * centroids.cv[i+1]), (x, y) -> x + y) / sqrt(list_reduce(list_transform(range(len(e.v)), i -> e.v[i+1] * e.v[i+1]), (x, y) -> x + y) * list_reduce(list_transform(range(len(centroids.cv)), i -> centroids.cv[i+1] * centroids.cv[i+1]), (x, y) -> x + y)), 6) AS cos_to_centroid,
       round(list_reduce(list_transform(range(len(e.v)), i -> e.v[i+1] * centroids.cv[i+1]), (x, y) -> x + y) / sqrt(list_reduce(list_transform(range(len(e.v)), i -> e.v[i+1] * e.v[i+1]), (x, y) -> x + y) * list_reduce(list_transform(range(len(centroids.cv)), i -> centroids.cv[i+1] * centroids.cv[i+1]), (x, y) -> x + y)), 6) < {OUTLIER_COS} AS is_outlier
FROM e JOIN centroids USING (label)
"""


@register("embedding_centroid_outliers", CENTROID_ORACLE)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space quality audit: per-cluster (label) centroid =
    per-dimension mean, then each vector's cosine to its own centroid;
    vectors far from their cluster center (cos < threshold) are the
    mislabeled / noise candidates a curation pipeline re-examines. The
    centroid is rounded to 8 digits before scoring — per-dim means sum
    doubles across members, which is not order-stable across engines
    (see flow_control_aggregate) — and the dot product itself is a
    sequential fold over the fixed dim order, which is.

    SCALE: posexplode fans each vector into DIM rows map-side, ONE
    shuffle on (label, dim) computes partial means, the O(labels × DIM)
    centroid table broadcasts back — the vectors themselves shuffle
    never. At 100 TB this is the standard two-pass k-means-E-step shape.

    Reference scope note: no uForwarder twin — D-family mandate
    (training-data curation over the embeddings table)."""
    e = _emb(spark, sf_dir)
    per_dim = (
        e.select("label", F.posexplode("v").alias("d", "x"))
        .groupBy("label", "d")
        .agg(F.round(F.avg("x"), 8).alias("c"))
    )
    centroids = per_dim.groupBy("label").agg(
        F.expr("transform(array_sort(collect_list(struct(d, c))), s -> s.c)").alias("cv")
    )
    cos = F.expr(_cos_expr("spark", "v", "cv"))
    return (
        e.join(F.broadcast(centroids), "label")
        .select(
            "vec_id",
            "label",
            F.round(cos, 6).alias("cos_to_centroid"),
            (F.round(cos, 6) < OUTLIER_COS).alias("is_outlier"),
        )
    )


# --- D40 -----------------------------------------------------------------
K_CLUSTERS = 8
_SQD_SPARK = "aggregate(zip_with({v}, {c}, (x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
_SQD_DUCK = (
    "list_reduce(list_transform(range(len({v})), i -> ({v}[i+1] - {c}[i+1]) * ({v}[i+1] - {c}[i+1])), "
    "(x, y) -> x + y)"
)

_KM_CTES = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) > 0
),
seeds AS (
  SELECT * FROM (
    SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cluster, v AS c
    FROM e
  ) WHERE cluster < {K_CLUSTERS}
),
d1 AS (
  SELECT e.vec_id, e.label, e.v, s.cluster,
         {_SQD_DUCK.format(v='e.v', c='s.c')} AS dist
  FROM e CROSS JOIN seeds s
),
a1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn FROM d1
  ) WHERE rn = 1
),
comp AS (
  SELECT cluster, unnest(range(len(v))) AS d, v FROM a1
),
per_dim AS (
  SELECT cluster, d,
         CAST(sum(CAST(round(v[d + 1], 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*) AS m
  FROM comp GROUP BY cluster, d
),
cent2 AS (
  SELECT cluster, list(m ORDER BY d) AS c FROM per_dim GROUP BY cluster
),
d2 AS (
  SELECT e.vec_id, e.label, e.v, c2.cluster,
         {_SQD_DUCK.format(v='e.v', c='c2.c')} AS dist
  FROM e CROSS JOIN cent2 c2
),
a2 AS (
  SELECT vec_id, label, v, cluster, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn FROM d2
  ) WHERE rn = 1
)"""

KMEANS_ORACLE = (
    _KM_CTES
    + """
SELECT vec_id, label, cluster, round(dist, 6) AS sq_dist FROM a2
"""
)


def _kmeans_assign(e, centroids):
    """E-step: nearest centroid per vector, as a STATELESS row-local
    map — the k-row centroid frame collapses to ONE array<struct
    (cluster, c)> row (static-side agg), broadcasts, and each vector
    takes array_min over (dist, cluster) structs: lexicographic min =
    smallest distance with lower-cluster tiebreak (the same order as
    the previous CASE-based fold, which computed every distance TWICE —
    condition + kept struct). No vec×k fan-out, no per-vec aggregation,
    no shuffle — the E-step is a pure map over the vector scan;
    streaming E18 runs the IDENTICAL kernel (it calls this function)."""
    packed = centroids.agg(
        F.expr("array_sort(collect_list(struct(cluster, c))) AS cents")
    )
    dist = _SQD_SPARK.format(v="v", c="cent.c")
    pick = F.expr(
        "array_min(transform(cents, "
        f"cent -> struct({dist} AS dist, cent.cluster AS cluster)))"
    )
    return (
        e.crossJoin(F.broadcast(packed))
        .withColumn("pick", pick)
        .select(
            *e.columns,  # pass-through, so chained assigns (D72) keep
            # the prior cell without a corpus-sized vec_id re-join
            F.col("pick.cluster").alias("cluster"),
            F.col("pick.dist").alias("dist"),
        )
    )


@register("kmeans_embedding_assign", KMEANS_ORACLE)
def kmeans_embedding_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering of the embedding table: deterministic Lloyd
    k-means (k=8, seeds = the k lowest vec_ids, one M-step between two
    E-steps) emitting each vector's final cluster and squared distance —
    the bucketing primitive semantic dedup (SemDeDup, Abbas et al. 2023)
    and diversity-balanced sampling build on.

    Determinism across engines: seeds are data-defined (no RNG);
    squared distances are sequential folds over the fixed dim order
    (bit-stable); the M-step mean rounds each component to 7 dp and
    sums DECIMAL — exact, order-free — then does one double division;
    argmin ties break to the lower cluster id. Every number both
    engines compare is therefore bit-identical.

    SCALE: E-steps are SHUFFLE-FREE — the centroid table collapses to
    one broadcast array row and the argmin is a row-local fold (see
    _kmeans_assign), so vectors are never fanned out k-ways nor
    re-aggregated; the only shuffles are the M-step's (cluster, dim)
    partial agg and its k-row regroup. Iterations are a fixed small
    constant — the plan is k-independent chained E/M stages, exactly
    how distributed k-means runs at 100 TB (the full algorithm would
    loop the same two stages).

    Reference scope note: no uForwarder twin — D-family mandate."""
    return _kmeans_a2(spark, sf_dir).select(
        "vec_id", "label", "cluster", F.round("dist", 6).alias("sq_dist")
    )


def _kmeans_a2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared Lloyd pipeline through the second E-step: assignments
    WITH their vectors — D40 projects (cluster, dist) off it; D41 prunes
    near-dups within its clusters."""
    e = _emb(spark, sf_dir)
    w = Window.orderBy("vec_id")
    seeds = (
        e.orderBy("vec_id").limit(K_CLUSTERS)
        .select((F.row_number().over(w) - 1).cast("int").alias("cluster"), F.col("v").alias("c"))
    )
    a1 = _kmeans_assign(e, seeds)
    return _kmeans_assign(e, _kmeans_mstep(a1))


def _kmeans_mstep(a1: DataFrame) -> DataFrame:
    """M-step: per-cluster component means from an assignment frame
    (cluster, v) — each component rounds to 7 dp and sums DECIMAL
    (exact, order-free), one double division. Shared by the D40/D41/D59
    Lloyd chain and the D72 index-refresh re-train."""
    per_dim = (
        a1.select("cluster", F.posexplode("v").alias("d", "x"))
        .groupBy("cluster", "d")
        .agg(
            (
                F.sum(F.round(F.col("x"), 7).cast("decimal(20,7)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
    )
    return per_dim.groupBy("cluster").agg(
        F.expr("transform(array_sort(collect_list(struct(d, m))), s -> s.m)").alias("c")
    )


# --- D41 -----------------------------------------------------------------
SEMDEDUP_COS = 0.3
# The synthetic embeddings are near-orthogonal random vectors (max
# intra-cluster cosine ~0.51 at sf0.01 — no planted near-dups), so the
# registered threshold sits low enough to exercise the drop path end to
# end; a real corpus runs the same operator at ~0.95+.

SEMDEDUP_ORACLE = (
    _KM_CTES
    + f""",
a2n AS (
  SELECT vec_id, cluster,
         list_transform(v, x -> x / sqrt(list_reduce(
           list_transform(v, y -> y * y), (p, q) -> p + q))) AS u
  FROM a2
),
pairs AS (
  SELECT a.vec_id AS vid, min(b.vec_id) AS dup_of
  FROM a2n a JOIN a2n b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
  WHERE {_DOT_DUCK.format(a='a.u', b='b.u')} >= {SEMDEDUP_COS}
  GROUP BY a.vec_id
)
SELECT a.vec_id, a.label, a.cluster,
       p.dup_of IS NULL AS keep, p.dup_of
FROM a2 a LEFT JOIN pairs p ON a.vec_id = p.vid
"""
)


@register("semdedup_prune", SEMDEDUP_ORACLE)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) end to end: cluster the embedding
    table (D40's deterministic Lloyd pipeline), then inside each final
    cluster drop every vector that has a near-duplicate (cosine ≥ T)
    with a smaller vec_id — the deterministic analogue of the paper's
    keep-one-per-duplicate-group with id order as the tiebreak. A
    vector is dropped if ANY earlier same-cluster vector is within the
    threshold (whether or not that one was itself dropped) — the
    transitive-closure-free rule both engines compute identically
    without iteration. Output: per-vector keep/drop with the earliest
    duplicate it collapsed into.

    SCALE: clustering bounds the pair search — candidates are
    same-cluster only, O(n²/k) vs the corpus-quadratic naive join, and
    k grows with the corpus in the paper's regime (k ≈ √n keeps
    per-cluster work flat). The pair join shuffles on cluster id; a fat
    cluster is exactly the AQE skew-join case (session enables it), and
    the cosine fold is bit-stable, so the threshold cut is
    engine-identical. Everything downstream of the (tiny) pairs frame
    is a broadcast-back left join.

    OPTIMIZATION r12 (guide §1.2 step 2 — the same normalized-dot
    rewrite the kNN family took in r07): the pair filter computed the
    3-fold cosine (dot + two self-dots) per candidate pair — on the
    O(n²/k) within-cluster pair set that was the single largest CPU
    sink in the bench (32 executor-CPU s). Unit vectors are now
    computed ONCE per vector on the persisted assignment frame and
    each pair pays one dot fold; the oracle normalizes identically
    (same per-element op order), so the thresholded pair set stays
    engine-identical BETWEEN Spark and DuckDB — not bit-identical to
    the pre-r12 dot/sqrt(dot·dot) form (a pair within ~1 ulp of
    SEMDEDUP_COS could classify differently across rounds; the r12
    builder cross-checked NEW Spark vs OLD oracle row-identical at
    sf0.001/0.01/0.1, so no such pair exists in the declared data).
    Per-pair float work drops 3x."""
    a2 = (
        _kmeans_a2(spark, sf_dir)
        .withColumn("u", F.expr(_UNIT_SPARK))
        .localCheckpoint()
    )
    # localCheckpoint, not persist (OPTIMIZATION r13): both sides of the
    # pair self-join and the final left join reference a2 from
    # concurrent stages, and the lazily-populated cache let them race
    # it and re-run the Lloyd chain (CPU 15.4 -> 11.9 s interleaved at
    # sf0.1); the checkpoint materializes the assignment frame — unit
    # vectors included, computed once — before any branch plans.
    b = a2.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster").alias("b_cluster"),
        F.col("u").alias("b_u"),
    )
    pairs = (
        a2.join(
            b,
            (F.col("cluster") == F.col("b_cluster")) & (F.col("b_id") < F.col("vec_id")),
        )
        .filter(F.expr(_DOT_SPARK.format(a="u", b="b_u")) >= SEMDEDUP_COS)
        .groupBy("vec_id")
        .agg(F.min("b_id").alias("dup_of"))
    )
    return a2.join(pairs, "vec_id", "left").select(
        "vec_id", "label", "cluster",
        F.col("dup_of").isNull().alias("keep"), "dup_of",
    )


# --- D42 -----------------------------------------------------------------
# Quantized-scan ANN: scan the int8-reconstructed vectors (D31's exact
# codebook) for a cheap approximate top-C, then exact-rescore only those
# C candidates against the full-precision vectors — the FAISS SQ8
# ADC-then-refine pattern. At 100 TB the codes table is what sits on
# disk (4x smaller, 4x less scan IO); full-precision vectors are only
# fetched for the C candidates.
RESCORE_CAND = 50  # approximate candidates kept from the quantized scan
RESCORE_K = 10  # final exact top-k

INT8_RESCORE_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
dims AS (
  SELECT i, min(v[i + 1]) AS mn, max(v[i + 1]) AS mx
  FROM e, unnest(range(len(v))) AS t(i)
  GROUP BY i
),
code AS (
  SELECT list(mn ORDER BY i) AS mins,
         list((mx - mn) / 255.0 ORDER BY i) AS scales
  FROM dims
),
q AS (
  SELECT vec_id, label, v,
         list_transform(range(len(v)),
           i -> CASE WHEN scales[i + 1] = 0 THEN mins[i + 1]
                     ELSE least(greatest(
                            round((v[i + 1] - mins[i + 1]) / scales[i + 1]), 0), 255)
                          * scales[i + 1] + mins[i + 1] END) AS r
  FROM e CROSS JOIN code
),
qq AS (SELECT v AS qv, r AS qr FROM q WHERE vec_id = 0),
cand AS (
  SELECT q.vec_id, q.label, q.v, qq.qv,
         {_cos_expr('duck', 'q.r', 'qq.qr')} AS approx_raw
  FROM q CROSS JOIN qq
  WHERE q.vec_id <> 0
  ORDER BY approx_raw DESC, q.vec_id
  LIMIT {RESCORE_CAND}
)
SELECT vec_id, label,
       round(approx_raw, 6) AS approx_cosine,
       round({_cos_expr('duck', 'v', 'qv')}, 6) AS cosine
FROM cand
ORDER BY {_cos_expr('duck', 'v', 'qv')} DESC, vec_id
LIMIT {RESCORE_K}
"""


@register("ann_topk_int8_rescore", INT8_RESCORE_ORACLE)
def ann_topk_int8_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage ANN over the scalar-quantized codes: approximate cosine
    on the int8-reconstructed vectors (D31's exact [min, max] codebook)
    selects the top-{RESCORE_CAND} candidates, and only those are
    exact-rescored at full precision for the final top-{RESCORE_K}.
    Output carries both scores so recall loss is auditable per hit.

    SCALE: the production layout stores the 1-byte codes (computed once
    by D31's pass) — the scan stage reads 4x fewer bytes than D6 and
    never touches the float vectors; the reconstruction here is inline
    only because the bench derives codes and scan from the same table.
    Both stages are per-partition top-C folds + a C-row driver merge
    (TakeOrderedAndProject) — no full sort, no wide shuffle; the
    codebook and query rows broadcast. Quantization (round), dot folds
    (sequential aggregate == list_reduce), and id tie-breaks are
    bit-identical across engines, so candidate sets — not just scores —
    match the oracle exactly.

    Reference analogue: none — training-data similarity family (the
    FAISS SQ8 ADC + refine pattern re-expressed as DataFrame ops)."""
    e = _emb(spark, sf_dir)
    # localCheckpoint the 1-row codebook and query row ONCE (eager):
    # branching the corpus reconstruct `r` into both qrow and the scan
    # without a persist made each qrow broadcast re-run the codebook
    # aggregation plus a corpus pass (VERDICT r10, the gen2 ANN audit
    # finding on the shared D42/D62 shape); at 100 TB those re-reads
    # are full corpus scans. The scan below is now `r`'s only consumer.
    code = sq8_codebook(e).localCheckpoint()
    qrow = (
        e.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(code))
        .withColumn("r", F.expr(_RECON_SPARK))
        .select(F.col("v").alias("qv"), F.col("r").alias("qr"))
        .localCheckpoint()
    )
    r = e.crossJoin(F.broadcast(code)).withColumn("r", F.expr(_RECON_SPARK))
    cand = (
        r.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .withColumn("approx_raw", F.expr(_cos_expr("spark", "r", "qr")))
        .orderBy(F.col("approx_raw").desc(), "vec_id")
        .limit(RESCORE_CAND)
    )
    return (
        cand.withColumn("cos_raw", F.expr(_cos_expr("spark", "v", "qv")))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(RESCORE_K)
        .select(
            "vec_id",
            "label",
            F.round("approx_raw", 6).alias("approx_cosine"),
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


# --- D62 -----------------------------------------------------------------
# IVF-SQ8: the D13 coarse-probe composed with the D42 quantized scan —
# probe nprobe cells, scan ONLY those cells' int8 codes, exact-rescore
# the top-C survivors. This is the sublinear quantized ANN a 100 TB
# embedding store actually runs (the FAISS IVF-SQ index shape): the
# coarse quantizer prunes |probed|/|cells| of the data BEFORE any scan,
# and the scan that remains reads 1-byte codes, not floats.
IVF_INT8_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
dims AS (
  SELECT i, min(v[i + 1]) AS mn, max(v[i + 1]) AS mx
  FROM e, unnest(range(len(v))) AS t(i)
  GROUP BY i
),
code AS (
  SELECT list(mn ORDER BY i) AS mins,
         list((mx - mn) / 255.0 ORDER BY i) AS scales
  FROM dims
),
q AS (
  SELECT vec_id, label, v,
         list_transform(range(len(v)),
           i -> CASE WHEN scales[i + 1] = 0 THEN mins[i + 1]
                     ELSE least(greatest(
                            round((v[i + 1] - mins[i + 1]) / scales[i + 1]), 0), 255)
                          * scales[i + 1] + mins[i + 1] END) AS r
  FROM e CROSS JOIN code
),
qq AS (SELECT v AS qv, r AS qr FROM q WHERE vec_id = 0),
reps AS (
  SELECT e.label, e.v AS rep_v
  FROM e JOIN (SELECT label, min(vec_id) AS rep_id FROM e GROUP BY label) rr
    ON e.vec_id = rr.rep_id
),
probed AS (
  SELECT reps.label
  FROM reps CROSS JOIN qq
  ORDER BY {_cos_expr('duck', 'reps.rep_v', 'qq.qv')} DESC, reps.label
  LIMIT {N_PROBE}
),
cand AS (
  SELECT q.vec_id, q.label, q.v, qq.qv,
         {_cos_expr('duck', 'q.r', 'qq.qr')} AS approx_raw
  FROM q JOIN probed USING (label) CROSS JOIN qq
  WHERE q.vec_id <> 0
  ORDER BY approx_raw DESC, q.vec_id
  LIMIT {RESCORE_CAND}
)
SELECT vec_id, label,
       round(approx_raw, 6) AS approx_cosine,
       round({_cos_expr('duck', 'v', 'qv')}, 6) AS cosine
FROM cand
ORDER BY {_cos_expr('duck', 'v', 'qv')} DESC, vec_id
LIMIT {RESCORE_K}
"""


@register("ann_topk_ivf_int8", IVF_INT8_ORACLE)
def ann_topk_ivf_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-SQ8 ANN — D13's coarse probe composed with D42's quantized
    scan (the FAISS IVF-SQ index shape): (1) probe the {N_PROBE} coarse
    cells (label = cell id, min-vec_id member as the deterministic
    representative) most query-similar at full precision, (2) scan ONLY
    those cells' int8-reconstructed codes (D31's exact [min, max]
    codebook) for the approximate top-{RESCORE_CAND}, (3) exact-rescore
    the survivors at full precision for the final top-{RESCORE_K}.
    Output carries both scores so per-hit recall loss is auditable,
    exactly like D42.

    SCALE: this fixes the one linear-scan residue the round-4 verdict
    named in D42 — its approximate pass still touched EVERY vector (4x
    cheaper IO, still O(n) per query). Here the coarse probe is O(cells)
    work on a broadcast O(cells)-row representative table, cell
    membership prunes the scan to |probed|/|cells| of the corpus BEFORE
    any dot product (at 100 TB the codes table is partitioned by cell,
    so pruning happens at the parquet scan), and the scan that remains
    reads 1-byte codes — sublinear AND quantized. Both top stages are
    per-partition top-C folds + a C-row driver merge
    (TakeOrderedAndProject); codebook, query row, and probed-cell list
    all broadcast. Quantization (round), dot folds (sequential
    aggregate == list_reduce), and vec_id tie-breaks are bit-identical
    across engines, so candidate SETS — not just scores — match the
    oracle exactly.

    Reference analogue: none — training-data similarity family (FAISS
    IVF-SQ re-expressed as DataFrame ops)."""
    e = _emb(spark, sf_dir)
    # Same persist discipline as D42 (the shared SQ8 shape): 1-row
    # codebook and query row localCheckpoint ONCE, so qrow's three
    # broadcasts (probe, scan, rescore) replay one cached row instead
    # of re-running the codebook agg + a corpus pass each (VERDICT r10
    # — the unpersisted-`r`-branch finding, operators/similarity.py).
    # The cell-pruned scan below is the corpus reconstruct's only
    # consumer.
    code = sq8_codebook(e).localCheckpoint()
    qrow = (
        e.filter(F.col("vec_id") == 0)
        .crossJoin(F.broadcast(code))
        .withColumn("r", F.expr(_RECON_SPARK))
        .select(F.col("v").alias("qv"), F.col("r").alias("qr"))
        .localCheckpoint()
    )
    r = e.crossJoin(F.broadcast(code)).withColumn("r", F.expr(_RECON_SPARK))
    rep_ids = e.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
    reps = e.join(F.broadcast(rep_ids), ["label", "vec_id"]).select(
        "label", F.col("v").alias("rep_v")
    )
    probed = (
        reps.crossJoin(F.broadcast(qrow))
        .withColumn("rep_cos", F.expr(_cos_expr("spark", "rep_v", "qv")))
        .orderBy(F.col("rep_cos").desc(), "label")
        .limit(N_PROBE)
        .select("label")
    )
    cand = (
        r.join(F.broadcast(probed), "label")
        .filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qrow))
        .withColumn("approx_raw", F.expr(_cos_expr("spark", "r", "qr")))
        .orderBy(F.col("approx_raw").desc(), "vec_id")
        .limit(RESCORE_CAND)
    )
    return (
        cand.withColumn("cos_raw", F.expr(_cos_expr("spark", "v", "qv")))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(RESCORE_K)
        .select(
            "vec_id",
            "label",
            F.round("approx_raw", 6).alias("approx_cosine"),
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


# --- D59 -----------------------------------------------------------------
PURITY_ORACLE = f"""
WITH a AS (
  SELECT vec_id, label, cluster FROM ({{KMEANS_SQL}})
),
cell AS (SELECT cluster, label, count(*) AS c FROM a GROUP BY cluster, label),
tot AS (SELECT cluster, CAST(sum(c) AS BIGINT) AS n FROM cell GROUP BY cluster),
best AS (
  SELECT cluster, max(c) AS c_max FROM cell GROUP BY cluster
),
maj AS (
  SELECT cell.cluster, min(cell.label) AS majority_label
  FROM cell JOIN best ON best.cluster = cell.cluster AND cell.c = best.c_max
  GROUP BY cell.cluster
)
SELECT t.cluster, t.n, m.majority_label,
       CAST(b.c_max AS BIGINT) AS n_majority,
       round(CAST(b.c_max AS DOUBLE) / t.n, 6) AS purity
FROM tot t JOIN best b USING (cluster) JOIN maj m USING (cluster)
"""


def _purity_oracle() -> str:
    # D40's oracle yields (vec_id, label, cluster, sq_dist); reuse it as
    # the assignment subquery so the two can never drift.
    return PURITY_ORACLE.format(KMEANS_SQL=KMEANS_ORACLE)


@register("kmeans_cluster_purity", _purity_oracle())
def kmeans_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering quality audit: per D40 cluster, the majority ground-
    truth label (smallest label on ties), its share of the cluster
    (purity), and the cluster size — the number that says whether the
    embedding clusters track the labels before anyone trusts
    cluster-level curation decisions (D41's SemDeDup prunes inside
    these clusters).

    SCALE: everything heavy IS D40's assignment pipeline; this adds a
    (cluster, label) cell agg — k·|labels| rows — and three joins over
    that tiny frame.

    Reference scope note: no uForwarder twin — D-family mandate
    (embedding-space curation audit)."""
    a = _kmeans_a2(spark, sf_dir).select("vec_id", "label", "cluster")
    cell = a.groupBy("cluster", "label").agg(F.count("*").alias("c")).persist()
    # persist (the _emb rule): tot/best/maj are three plan branches over
    # this k·|labels|-row frame — without the barrier each branch
    # re-runs the ENTIRE kmeans pipeline below it (measured 2.2 s →
    # 1.2 s at sf0.1); the cached frame is control-plane-sized
    tot = cell.groupBy("cluster").agg(F.sum("c").cast("bigint").alias("n"))
    best = cell.groupBy("cluster").agg(F.max("c").alias("c_max"))
    maj = (
        cell.join(best, "cluster")
        .filter(F.col("c") == F.col("c_max"))
        .groupBy("cluster")
        .agg(F.min("label").alias("majority_label"))
    )
    return (
        tot.join(best, "cluster")
        .join(maj, "cluster")
        .select(
            "cluster",
            "n",
            "majority_label",
            F.col("c_max").cast("bigint").alias("n_majority"),
            F.round(F.col("c_max").cast("double") / F.col("n"), 6).alias("purity"),
        )
    )


# --- D68 -----------------------------------------------------------------
PQ_M = 8        # subspaces (64-dim vector -> 8 subvectors of 8 dims)
PQ_SUB = 8      # dims per subspace
PQ_K = 16       # codes per subspace codebook (4 bits -> 4-byte PQ code)
PQ_RESCORE = 50  # ADC candidates kept for exact rescore

_PQ_NORM_DUCK = (
    "list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b)))"
)

PQ_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) > 0
),
n AS (
  SELECT vec_id, label, v, {_PQ_NORM_DUCK} AS u FROM e
),
subs AS (
  SELECT vec_id, m, list_slice(u, m * {PQ_SUB} + 1, m * {PQ_SUB} + {PQ_SUB}) AS sub
  FROM n CROSS JOIN (SELECT unnest(range({PQ_M})) AS m)
),
seed_ids AS (
  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS code
  FROM (SELECT vec_id FROM e ORDER BY vec_id LIMIT {PQ_K})
),
seeds AS (
  SELECT s.m, si.code, s.sub AS c
  FROM subs s JOIN seed_ids si ON s.vec_id = si.vec_id
),
d1 AS (
  SELECT s.vec_id, s.m, s.sub, cb.code,
         {_SQD_DUCK.format(v='s.sub', c='cb.c')} AS dist
  FROM subs s JOIN seeds cb ON s.m = cb.m
),
a1 AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn FROM d1
  ) WHERE rn = 1
),
comp AS (
  SELECT m, code, unnest(range(len(sub))) AS d, sub FROM a1
),
per_dim AS (
  SELECT m, code, d,
         CAST(sum(CAST(round(sub[d + 1], 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*) AS mean
  FROM comp GROUP BY m, code, d
),
cent2 AS (
  SELECT m, code, list(mean ORDER BY d) AS c FROM per_dim GROUP BY m, code
),
d2 AS (
  SELECT s.vec_id, s.m, cb.code,
         {_SQD_DUCK.format(v='s.sub', c='cb.c')} AS dist
  FROM subs s JOIN cent2 cb ON s.m = cb.m
  WHERE s.vec_id <> 0
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn FROM d2
  ) WHERE rn = 1
),
dtab AS (
  SELECT q.m, cb.code, {_SQD_DUCK.format(v='q.sub', c='cb.c')} AS dval
  FROM (SELECT m, sub FROM subs WHERE vec_id = 0) q
  JOIN cent2 cb ON q.m = cb.m
),
approx AS (
  SELECT c.vec_id,
         list_reduce(list(t.dval ORDER BY c.m), (a, b) -> a + b) AS adc
  FROM codes c JOIN dtab t ON c.m = t.m AND c.code = t.code
  GROUP BY c.vec_id
),
cand AS (
  SELECT vec_id, adc FROM approx ORDER BY adc, vec_id LIMIT {PQ_RESCORE}
),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT e.vec_id, e.label,
       round(cand.adc, 6) AS approx_l2,
       round({_cos_expr('duck', 'e.v', 'q.qv')}, 6) AS cosine
FROM cand JOIN e ON e.vec_id = cand.vec_id CROSS JOIN q
ORDER BY {_cos_expr('duck', 'e.v', 'q.qv')} DESC, e.vec_id
LIMIT 10
"""


def _pq_assign(subs: DataFrame, cents: DataFrame) -> DataFrame:
    """PQ E-step: nearest sub-codebook entry per (vec_id, m), as a
    STATELESS row-local fold — the (m, code, c) codebook collapses to
    ONE array row grouped BY SUBSPACE (static-side agg; each bucket
    (m, code)-sorted), broadcasts, and each subvector folds over its
    own subspace's bucket (element_at — the r12 ADC-fold trick; a flat
    array re-filtered M·K entries per row) keeping the strictly-smaller
    distance (bucket sorted by code ⇒ lower-code tiebreak, the same
    order as min(struct(dist, code))). No sub×k fan-out, no per-row
    aggregation, no shuffle — the D40 _kmeans_assign argument, per
    subspace."""
    packed = cents.agg(
        F.expr(
            f"transform(sequence(0, {PQ_M - 1}), mm -> "
            "filter(array_sort(collect_list(struct(m, code, c))), e0 -> e0.m = mm)) AS cbm"
        )
    )
    dist = _SQD_SPARK.format(v="sub", c="cent.c")
    # array_min over (dist, code) structs = lexicographic min = smallest
    # distance with lower-code tiebreak, evaluating each distance ONCE
    # (a CASE-based fold would compute it twice per entry: condition +
    # kept struct)
    pick = F.expr(
        "array_min(transform(element_at(cbm, m + 1), "
        f"cent -> struct({dist} AS dist, cent.code AS code)))"
    )
    return (
        subs.crossJoin(F.broadcast(packed))
        .withColumn("pk", pick)
        .select("vec_id", "m", "sub", F.col("pk.code").alias("code"))
    )


@register("ann_topk_pq", PQ_ORACLE)
def ann_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantized ANN (Jégou et al. 2011, the FAISS PQ path):
    unit-normalized vectors split into {PQ_M} subvectors of {PQ_SUB}
    dims; each subspace gets a {PQ_K}-entry codebook (deterministic
    mini-Lloyd: seeds = the {PQ_K} lowest vec_ids' subvectors, one
    decimal-exact M-step — the D40 recipe per subspace); corpus vectors
    encode to 4-bit codes per subspace. The query builds its ADC
    distance table (subspace × code squared distances — {PQ_M}×{PQ_K}
    rows), each vector's approximate L2² is the m-ordered sequential
    sum of its codes' table entries (on unit vectors L2² = 2 − 2·cos,
    so ADC order is cosine order), the best {PQ_RESCORE} rescore with
    exact cosine on the raw vectors, and the top 10 return with both
    scores so recall loss is auditable per hit.

    Exactness: normalization, subvector distances, ADC sums, and the
    cosine rescore are all fixed-order sequential folds; codebook means
    sum DECIMAL(20,7) (order-free exact) with one double division;
    every argmin ties to the lower code — so candidate SETS, not just
    scores, are bit-identical to the oracle.

    SCALE: at index scale the codebook trains on a bounded sample (the
    sq8_codebook argument) and the stored table is the 4-byte code —
    16× smaller than SQ8's 64 bytes, the reason PQ exists; both E-steps
    are shuffle-free row-local folds over a broadcast codebook
    (_pq_assign); the M-step shuffles only (m, code) partial aggs with
    {PQ_SUB} decimal-sum buffers — {PQ_M}·{PQ_K} groups regardless of
    corpus size; the ADC scan is one map over the codes + a limit-first
    TakeOrderedAndProject; rescore touches {PQ_RESCORE} rows.

    Reference analogue: none — training-data similarity family
    (completes the LSH / IVF / SQ8 / IVF-SQ8 / PQ set)."""
    e = _emb(spark, sf_dir)
    # OPTIMIZATION r12 (norm hoist): array_repeat(norm, size(v)) sits in
    # ARGUMENT position of zip_with, so the 64-mult norm fold evaluates
    # once per row even after CollapseProject inlines it — the previous
    # transform-lambda form (x -> x / sqrt(aggregate(v, ...))) recomputed
    # the full fold per ELEMENT (64x). x / norm per element is
    # IEEE-identical either way.
    nrm = e.withColumn(
        "u",
        F.expr(
            "zip_with(v, array_repeat(sqrt(aggregate(v, 0.0D, (a, y) -> a + y * y)), "
            "size(v)), (x, n) -> x / n)"
        ),
    )
    subs = (
        nrm.select(
            "vec_id",
            F.explode(
                F.expr(
                    f"transform(sequence(0, {PQ_M - 1}), m -> "
                    f"struct(m AS m, slice(u, m * {PQ_SUB} + 1, {PQ_SUB}) AS sub))"
                )
            ).alias("s"),
        )
        .select("vec_id", "s.m", "s.sub")
        .persist()  # read by seeds join, both E-steps, and the ADC table
    )
    wseed = Window.orderBy("vec_id")
    seed_ids = (
        e.orderBy("vec_id")
        .limit(PQ_K)
        .select("vec_id")
        .withColumn("code", (F.row_number().over(wseed) - 1).cast("int"))
    )
    seeds = subs.join(F.broadcast(seed_ids), "vec_id").select(
        "m", "code", F.col("sub").alias("c")
    )
    a1 = _pq_assign(subs, seeds)
    # OPTIMIZATION r12 (fused M-step): ONE hash agg over (m, code) with
    # PQ_SUB decimal-sum buffers replaces posexplode (8x row fan-out) +
    # two grouped aggs (incl. an ObjectHashAggregate collect_list).
    # Decimal sums are order-free exact and array(d=0..7) is the
    # d-sorted collect, so every mean — and its double division — is
    # bit-identical to the exploded form.
    cent2 = (
        a1.groupBy("m", "code")
        .agg(
            *[
                F.sum(F.expr(f"CAST(round(sub[{d}], 7) AS DECIMAL(20,7))")).alias(
                    f"s{d}"
                )
                for d in range(PQ_SUB)
            ],
            F.count("*").alias("cnt"),
        )
        .select(
            "m",
            "code",
            F.expr(
                "array("
                + ", ".join(f"CAST(s{d} AS DOUBLE) / cnt" for d in range(PQ_SUB))
                + ") AS c"
            ),
        )
    )
    qsubs = subs.filter(F.col("vec_id") == 0).select("m", F.col("sub").alias("qsub"))
    # Encode + ADC fused into ONE shuffle-free map over the corpus scan:
    # the trained codebook entries carry their own ADC term (dval joined
    # in — {PQ_M}·{PQ_K} rows, static side), collapse to one sorted
    # broadcast array row, and each vector folds over its subspaces
    # taking argmin(dist, code).dval directly. This replaces the old
    # encode explode (n·M rows) + (m, code) join + per-vec_id
    # collect_list re-aggregation — a full corpus shuffle — with zero
    # exchanges; the m-ascending fold keeps the ADC sum bit-identical.
    # OPTIMIZATION r12 (guide §1.2 step 2): group the broadcast
    # codebook BY SUBSPACE once on the static side — the fold then
    # indexes its subspace with element_at instead of re-filtering the
    # full {PQ_M}·{PQ_K}-entry array per subspace per vector (the
    # filter cost was {PQ_M}²·{PQ_K} predicate evals per corpus row;
    # the per-code distance folds, which ARE the ADC encode, stay).
    # array_sort before the per-m filter keeps each bucket m-ascending
    # and code-ascending, so fold order — and the argmin tie to the
    # lower code — is bit-identical to the flat form.
    # OPTIMIZATION r12 (dtab folded into the cbe build): the ADC table
    # was cent2 x qsubs joined back onto cent2 by (m, code) — but qsubs
    # has every m exactly once, so one broadcast join on m computes dval
    # inline on the cent2 rows themselves: one join and one broadcast
    # fewer, identical (m, code, c, dval) rows into the same sorted
    # collect.
    cbe = (
        cent2.join(F.broadcast(qsubs), "m")
        .withColumn("dval", F.expr(_SQD_SPARK.format(v="qsub", c="c")))
        .agg(F.expr("array_sort(collect_list(struct(m, code, c, dval))) AS cbe0"))
        .select(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), m -> "
                "filter(cbe0, e0 -> e0.m = m)) AS cbe"
            )
        )
    )
    # OPTIMIZATION r12 (slice hoist): su precomputes the PQ_M subvectors
    # once per row in its own projection below the broadcast join; the
    # fold indexes element_at(su, m+1) instead of slicing u per codebook
    # entry (PQ_M·PQ_K slice allocations per row -> PQ_M).
    su_expr = (
        f"transform(sequence(0, {PQ_M - 1}), m -> slice(u, m * {PQ_SUB} + 1, {PQ_SUB}))"
    )
    dist_m = _SQD_SPARK.format(v="element_at(su, m + 1)", c="cent.c")
    adc_expr = F.expr(
        f"aggregate(sequence(0, {PQ_M - 1}), 0.0D, (acc, m) -> "
        "acc + array_min(transform(element_at(cbe, m + 1), "
        f"cent -> struct({dist_m} AS dist, cent.code AS code, cent.dval AS dval)"
        ")).dval)"
    )
    approx = (
        nrm.filter(F.col("vec_id") != 0)
        .select("vec_id", F.expr(su_expr).alias("su"))
        .crossJoin(F.broadcast(cbe))
        .select("vec_id", adc_expr.alias("adc"))
    )
    cand = approx.orderBy("adc", "vec_id").limit(PQ_RESCORE).select("vec_id", "adc")
    qrow = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    return (
        e.join(F.broadcast(cand), "vec_id")
        .crossJoin(F.broadcast(qrow))
        .withColumn("cos_raw", F.expr(_cos_expr("spark", "v", "qv")))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "label",
            F.round("adc", 6).alias("approx_l2"),
            F.round("cos_raw", 6).alias("cosine"),
        )
    )


# --- D69 -----------------------------------------------------------------
QUERY_MOD = 100   # vec_id % QUERY_MOD == 0 -> the query workload
MQ_TOPK = 5       # hits returned per query

MQ_IVF_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) > 0
),
queries AS (
  SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % {QUERY_MOD} = 0
),
corpus AS (
  SELECT vec_id, label, v FROM e WHERE vec_id % {QUERY_MOD} <> 0
),
rep_ids AS (
  SELECT label, min(vec_id) AS vec_id FROM e GROUP BY label
),
reps AS (
  SELECT e.label, e.v AS rep_v FROM e JOIN rep_ids r
    ON e.label = r.label AND e.vec_id = r.vec_id
),
probed AS (
  SELECT qid, label FROM (
    SELECT q.qid, r.label,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY {_cos_expr('duck', 'r.rep_v', 'q.qv')} DESC, r.label
           ) AS rn
    FROM queries q CROSS JOIN reps r
  ) WHERE rn <= {N_PROBE}
),
scored AS (
  SELECT p.qid, c.vec_id, c.label,
         {_cos_expr('duck', 'c.v', 'q.qv')} AS cos_raw
  FROM probed p
  JOIN corpus c ON c.label = p.label
  JOIN queries q ON q.qid = p.qid
)
SELECT qid, vec_id, label, round(cos_raw, 6) AS cosine, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY cos_raw DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= {MQ_TOPK}
"""


def ivf_multiquery_topk(queries: DataFrame, corpus: DataFrame, reps: DataFrame) -> DataFrame:
    """Per-query IVF search over a (qid, qv) workload frame — the shared
    kernel of batch D69 and the live E31 query-serving pipeline. Probes
    each query's {N_PROBE} best cells by representative cosine, scores
    exactly inside probed cells only, and ranks per query.

    SCALE: reps is O(cells) and broadcasts; the probe stage is
    |queries|×|cells| row-local work with a per-QUERY (never global)
    rank window; the probed (qid, label) table — |queries|·{N_PROBE}
    rows — broadcasts onto the corpus scan so only probed cells are
    read (cell-partitioned layout prunes at the scan at 100 TB); the
    final rank window partitions by qid, candidates bounded by the
    probed cells. No global sort anywhere."""
    wprobe = Window.partitionBy("qid").orderBy(
        F.desc("rep_cos"), F.col("label")
    )
    probed = (
        queries.crossJoin(F.broadcast(reps))
        .withColumn("rep_cos", F.expr(_cos_expr("spark", "rep_v", "qv")))
        .withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= N_PROBE)
        .select("qid", "label")
    )
    wrank = Window.partitionBy("qid").orderBy(F.desc("cos_raw"), F.col("vec_id"))
    # OPTIMIZATION r13 (norm factorization — bit-identical, the D85
    # pattern): the self-dots of the 3-fold cosine depend on one side
    # only, so nv hoists to the corpus projection (once per candidate
    # row) and nq to the broadcast query frame (once per query); each
    # (candidate, query) pair pays ONE fold + sqrt(nv * nq) — the same
    # double as dot / sqrt(dot(v,v) * dot(qv,qv)), no oracle change.
    return (
        corpus.select(
            "vec_id",
            "label",
            "v",
            F.expr(_DOT_SPARK.format(a="v", b="v")).alias("nv"),
        )
        .join(F.broadcast(probed), "label")
        .join(
            F.broadcast(
                queries.select(
                    "qid", "qv", F.expr(_DOT_SPARK.format(a="qv", b="qv")).alias("nq")
                )
            ),
            "qid",
        )
        .withColumn(
            "cos_raw", F.expr(f"{_DOT_SPARK.format(a='v', b='qv')} / sqrt(nv * nq)")
        )
        .withColumn("rank", F.row_number().over(wrank))
        .filter(F.col("rank") <= MQ_TOPK)
        .select(
            "qid",
            "vec_id",
            "label",
            F.round("cos_raw", 6).alias("cosine"),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


@register("ann_multiquery_ivf", MQ_IVF_ORACLE)
def ann_multiquery_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query IVF ANN — the SERVING shape: every vec_id % 100 == 0
    vector is a query (a workload, not the single vec-0 probe the other
    ANN keys use), searched against the remaining corpus through the
    D13 coarse-cell index (min-vec_id medoid representatives, exact
    cosine inside the {N_PROBE} probed cells), top {MQ_TOPK} per query
    with rank. This is the batch twin of the live E31 query-serving
    stream — both run the shared ivf_multiquery_topk kernel.

    Exactness: the same sequential-fold cosine as D6/D13; per-query
    rank windows tie-break on (cosine desc, vec_id) — candidate sets
    and ranks are bit-identical to the oracle.

    SCALE: see ivf_multiquery_topk (the shared kernel) — per-QUERY
    rank windows (never global), O(cells) representative table and the
    |queries|·N_PROBE probed table broadcast onto the cell-partitioned
    corpus scan so only probed cells are read; candidates per query
    bounded by the probed cells.

    Reference analogue: none — training-data similarity family (the
    batched-query FAISS search path)."""
    e = _emb(spark, sf_dir)
    rep_ids = e.groupBy("label").agg(F.min("vec_id").alias("vec_id"))
    reps = e.join(F.broadcast(rep_ids), ["label", "vec_id"]).select(
        "label", F.col("v").alias("rep_v")
    )
    queries = e.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    corpus = e.filter(F.col("vec_id") % QUERY_MOD != 0)
    return ivf_multiquery_topk(queries, corpus, reps)


# --- D72 -----------------------------------------------------------------
IVF_REFRESH_ORACLE = (
    _KM_CTES
    + f""",
trans AS (
  SELECT a1.vec_id, a1.cluster AS old_cell, a2.cluster AS new_cell
  FROM a1 JOIN a2 ON a1.vec_id = a2.vec_id
),
before_t AS (
  SELECT old_cell AS cell, count(*) AS n_before,
         CAST(sum(CASE WHEN old_cell = new_cell THEN 1 ELSE 0 END) AS BIGINT)
           AS n_stay
  FROM trans GROUP BY old_cell
),
after_t AS (
  SELECT new_cell AS cell, count(*) AS n_after FROM trans GROUP BY new_cell
),
shift AS (
  SELECT s.cluster AS cell,
         round({_SQD_DUCK.format(v='s.c', c='c2.c')}, 6) AS centroid_shift
  FROM seeds s JOIN cent2 c2 ON s.cluster = c2.cluster
)
SELECT b.cell, b.n_before,
       CAST(coalesce(a.n_after, 0) AS BIGINT) AS n_after,
       b.n_stay,
       CAST(b.n_before - b.n_stay AS BIGINT) AS n_moved_out,
       CAST(coalesce(a.n_after, 0) - b.n_stay AS BIGINT) AS n_moved_in,
       round(CAST(b.n_before - b.n_stay AS DOUBLE) / b.n_before, 6) AS churn_rate,
       sh.centroid_shift
FROM before_t b
LEFT JOIN after_t a ON a.cell = b.cell
JOIN shift sh ON sh.cell = b.cell
"""
)


@register("ivf_index_refresh", IVF_REFRESH_ORACLE)
def ivf_index_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index refresh — the ANN story's day-2 operation (FAISS
    re-train): the corpus has drifted since the index was built, so
    re-derive the cell representatives from the CURRENT members (one
    decimal-exact Lloyd M-step over the existing assignment — D40's
    kernel), re-assign, and emit the per-cell churn audit that tells
    the operator what the refresh costs: members before/after, stays,
    moves out/in, churn rate, and how far each representative drifted.
    Only the n_moved_in arrivals per cell need their codes re-encoded
    (their SQ8/PQ codes are relative to the new cell); the audit is the
    number that decides whether to pay that re-encode at all.

    Determinism across engines: the "as-built" representatives are the
    D40 seed convention (k lowest vec_ids — no RNG), the re-train is
    the shared decimal-exact M-step, squared distances are sequential
    folds, argmin ties break to the lower cell id; churn_rate divides
    exact counts once and centroid_shift is one rounded fold.

    SCALE: NO full re-encode and NO corpus self-join — the old and new
    cells are computed in ONE chained row-local pass (both centroid
    tables collapse to broadcast array rows; _kmeans_assign passes the
    prior cell through, so there is no corpus-sized vec_id re-join),
    then ONE partial agg to the <= k^2-row transition table; everything
    downstream is O(k) arithmetic. OPTIMIZATION r13 (guide §1.2 step 1,
    VERDICT r12 item 6): seeds, cent2 and the transition table are each
    referenced by 2+ downstream branches, and as lazy subtrees every
    reference re-ran the whole corpus chain (measured 54 executor-run s
    for 13.6 CPU s at sf0.1). All three are k- or k²-row frames, so
    they localCheckpoint (the D16 lineage rule): the corpus is now
    touched exactly three times — the seed TakeOrdered, the M-step agg,
    and the transition agg — and every churn branch reads <= 64
    materialized rows.

    Reference analogue: none — training-data pipeline family (FAISS
    day-2 index maintenance)."""
    e = _emb(spark, sf_dir)
    w = Window.orderBy("vec_id")
    seeds = (
        e.orderBy("vec_id")
        .limit(K_CLUSTERS)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("cluster"),
            F.col("v").alias("c"),
        )
        .localCheckpoint()  # k rows; read by the first E-step AND shift
    )
    a1 = _kmeans_assign(e, seeds)
    cent2 = _kmeans_mstep(a1).localCheckpoint()  # k rows; read by the
    # second E-step AND shift — unchecked, each reference re-ran the
    # full E+M corpus chain
    t = _kmeans_assign(
        a1.select("vec_id", "v", F.col("cluster").alias("old_cell")), cent2
    ).select("old_cell", F.col("cluster").alias("new_cell"))
    g = (
        t.groupBy("old_cell", "new_cell")
        .agg(F.count("*").alias("n"))
        .localCheckpoint()  # <= k² rows; read by before AND after
    )
    before = g.groupBy(F.col("old_cell").alias("cell")).agg(
        F.sum("n").cast("bigint").alias("n_before"),
        F.sum(F.when(F.col("old_cell") == F.col("new_cell"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_stay"),
    )
    after = g.groupBy(F.col("new_cell").alias("cell")).agg(
        F.sum("n").cast("bigint").alias("n_after")
    )
    shift = (
        seeds.select("cluster", F.col("c").alias("oc"))
        .join(cent2.select("cluster", F.col("c").alias("nc")), "cluster")
        .select(
            F.col("cluster").alias("cell"),
            F.round(F.expr(_SQD_SPARK.format(v="oc", c="nc")), 6).alias(
                "centroid_shift"
            ),
        )
    )
    n_after = F.coalesce(F.col("n_after"), F.lit(0))
    return (
        before.join(after, "cell", "left")
        .join(F.broadcast(shift), "cell")
        .select(
            "cell",
            "n_before",
            n_after.cast("bigint").alias("n_after"),
            "n_stay",
            (F.col("n_before") - F.col("n_stay")).cast("bigint").alias("n_moved_out"),
            (n_after - F.col("n_stay")).cast("bigint").alias("n_moved_in"),
            F.round(
                (F.col("n_before") - F.col("n_stay")).cast("double")
                / F.col("n_before"),
                6,
            ).alias("churn_rate"),
            "centroid_shift",
        )
    )


# --- D76 -----------------------------------------------------------------
KNN_K = 5  # neighbors kept per vector in the kNN graph

# Per-pair score = ONE dot fold over pre-normalized unit vectors (the
# D68 normalization shape) instead of the 3-fold dot/sqrt(dot*dot)
# cosine: mathematically the same number, 3x less per-pair float work
# on the ~n*hundreds candidate set, and both engines run the identical
# normalize-then-fold op order so results stay bit-comparable.
# OPTIMIZATION r13 (the r12 D68 norm hoist applied to the shared
# constant): array_repeat(norm, size(v)) sits in ARGUMENT position of
# zip_with, so the 64-mult norm fold evaluates once per row; the
# previous transform-lambda form (x -> x / sqrt(aggregate(v, ...)))
# recomputed the full fold per ELEMENT (64x). x / norm per element is
# IEEE-identical either way, so every consumer's scores — and the
# DuckDB oracles, which were always one-fold-per-row — are unchanged.
_UNIT_SPARK = (
    f"zip_with(v, array_repeat(sqrt({_DOT_SPARK.format(a='v', b='v')}), "
    "size(v)), (x, n) -> x / n)"
)
_UNIT_DUCK = (
    f"list_transform(v, x -> x / sqrt({_DOT_DUCK.format(a='v', b='v')}))"
)

# The whole-corpus banded candidate -> scored -> ranked CTE chain, ONE
# module constant shared by the D76 edge oracle and the D82 PageRank
# oracle (the substring-island convention: one definition, no drift).
_KNN_EDGES_CTES = f"""e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
en AS (
  SELECT vec_id, {_UNIT_DUCK} AS u FROM e
),
sig AS (
  SELECT vec_id, v, {_bucket_expr('duck', 'v')} AS bucket FROM e
),
banded AS (
  SELECT vec_id, v, {_band_cols('duck')} FROM sig
),
band_rows AS (
  SELECT vec_id, 0 AS band, band0 AS bv FROM banded
  UNION ALL SELECT vec_id, 1, band1 FROM banded
  UNION ALL SELECT vec_id, 2, band2 FROM banded
  UNION ALL SELECT vec_id, 3, band3 FROM banded
),
pairs AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM band_rows a
  JOIN band_rows b ON a.band = b.band AND a.bv = b.bv AND a.vec_id <> b.vec_id
),
scored AS (
  SELECT p.src, p.dst, {_DOT_DUCK.format(a='ea.u', b='eb.u')} AS c
  FROM pairs p
  JOIN en ea ON ea.vec_id = p.src
  JOIN en eb ON eb.vec_id = p.dst
),
ranked AS (
  SELECT src, dst, c,
         row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rnk
  FROM scored
)"""

KNN_GRAPH_ORACLE = f"""
WITH {_KNN_EDGES_CTES}
SELECT src, dst, CAST(rnk AS INTEGER) AS rank, round(c, 6) AS cosine
FROM ranked WHERE rnk <= {KNN_K}
"""


@register("knn_graph_lsh", KNN_GRAPH_ORACLE)
def knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level approximate kNN GRAPH — the bulk primitive under
    graph-based dedup, SemDeDup-style pruning and diversity sampling:
    every vector gets its top-{KNN_K} neighbors among the vectors
    sharing at least one LSH band (D7's random-hyperplane 16-bit
    signature, 4 bands × 4 bits), with exact cosine computed only
    inside buckets. Completes the similarity family's shapes: D6/D7
    single-query, D69 batched queries, this one all-pairs-graph.

    Determinism: the signature is a fixed literal hyperplane fold, the
    cosine a sequential fold, ranks break ties to the lower dst id —
    edge SETS, not just scores, are bit-identical cross-engine.

    SCALE: the signature map is O(n); the band self-join shuffles only
    (vec_id, band-value) pairs — 4 rows per vector, uniform by
    construction; candidate (src, dst) id-pairs are DISTINCT-ed
    BEFORE any vector is fetched, so each surviving pair pays one
    cosine and the vectors ride exactly two co-partitioned hash joins
    (at 100 TB both sides bucket by vec_id). The rank window
    partitions per src — never global. Candidate count is bounded by
    colliding-bucket products, never n²; graph output is O(n·k).

    Reference analogue: none — training-data similarity family
    (SURVEY §2 D)."""
    scored = _knn_scored_frame(_emb(spark, sf_dir))
    wr = Window.partitionBy("src").orderBy(F.col("c").desc(), "dst")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= KNN_K)
        .select("src", "dst", F.col("rank").cast("int").alias("rank"), F.round("c", 6).alias("cosine"))
    )


def _knn_scored_frame(e: DataFrame) -> DataFrame:
    """Symmetric whole-corpus candidate scores (src, dst, c): band
    self-join on (vec_id, band, bv) rows, DISTINCT id-pairs before any
    vector is fetched, one normalized-dot cosine per pair — the Spark
    twin of the `_KNN_EDGES_CTES` oracle chain, ONE definition shared
    by D76's graph and D89's triplet mining (the `_incr_scored_frame`
    convention, symmetric side)."""
    band_rows = knn_band_frame(e)  # the shared D76/D77/E34 band table
    a = band_rows.select(F.col("vec_id").alias("src"), "band", "bv")
    b = band_rows.select(F.col("vec_id").alias("dst"), "band", "bv")
    pairs = (
        a.join(b, ["band", "bv"])
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    en = e.select("vec_id", F.expr(_UNIT_SPARK).alias("u"))
    return (
        pairs.join(en.select(F.col("vec_id").alias("src"), F.col("u").alias("au")), "src")
        .join(en.select(F.col("vec_id").alias("dst"), F.col("u").alias("bu")), "dst")
        .select("src", "dst", F.expr(_DOT_SPARK.format(a="au", b="bu")).alias("c"))
    )


# --- D77 -----------------------------------------------------------------
# The asymmetric incoming(odd)-vs-existing(even) candidate -> scored ->
# ranked CTE chain, ONE module constant shared by the D77 edge oracle
# and the D90 triplet oracle (the substring-island convention).
_INCR_KNN_CTES = f"""e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
en AS (
  SELECT vec_id, {_UNIT_DUCK} AS u FROM e
),
sig AS (
  SELECT vec_id, v, vec_id % 2 AS side, {_bucket_expr('duck', 'v')} AS bucket FROM e
),
banded AS (
  SELECT vec_id, side, {_band_cols('duck')} FROM sig
),
band_rows AS (
  SELECT vec_id, side, 0 AS band, band0 AS bv FROM banded
  UNION ALL SELECT vec_id, side, 1, band1 FROM banded
  UNION ALL SELECT vec_id, side, 2, band2 FROM banded
  UNION ALL SELECT vec_id, side, 3, band3 FROM banded
),
pairs AS (
  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
  FROM band_rows a
  JOIN band_rows b ON a.band = b.band AND a.bv = b.bv
  WHERE a.side = 1 AND b.side = 0
),
scored AS (
  SELECT p.src, p.dst, {_DOT_DUCK.format(a='ea.u', b='eb.u')} AS c
  FROM pairs p
  JOIN en ea ON ea.vec_id = p.src
  JOIN en eb ON eb.vec_id = p.dst
),
ranked AS (
  SELECT src, dst, c,
         row_number() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rnk
  FROM scored
)"""

INCR_KNN_ORACLE = f"""
WITH {_INCR_KNN_CTES}
SELECT src, dst, CAST(rnk AS INTEGER) AS rank, round(c, 6) AS cosine
FROM ranked WHERE rnk <= {KNN_K}
"""


@register("incr_knn_edges", INCR_KNN_ORACLE)
def incr_knn_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental kNN-graph ingest — D76's edges in D36's production
    shape: a NEW batch of embeddings (odd vec_ids stand in for the
    fresh arrivals) gets its top-{KNN_K} neighbors AGAINST the existing
    index (even vec_ids) — the operation an embedding store runs per
    ingest, where rebuilding the whole D76 graph would re-shuffle every
    band row. The band probe is ASYMMETRIC (incoming × existing only),
    candidates DISTINCT-ed before any vector is fetched, rank windows
    per incoming src. Live E34 runs the identical kernel per
    micro-batch.

    SCALE: the existing corpus contributes its persisted (vec_id, band,
    bv) table (the D36 band-table convention — maintained per ingest,
    not recomputed) plus vec_id-bucketed vectors for the dst fetch;
    each ingest pays |batch| signature folds, a band join whose probe
    side is batch-sized, one cosine per surviving pair, and a per-src
    rank window. Never n² and never a graph rebuild.

    Reference analogue: none — training-data similarity family
    (SURVEY §2 D)."""
    e = _emb(spark, sf_dir)
    incoming = e.filter(F.col("vec_id") % 2 == 1)
    existing = e.filter(F.col("vec_id") % 2 == 0)
    return incr_knn_frame(incoming, knn_band_frame(existing), existing)


def knn_band_frame(vecs: DataFrame) -> DataFrame:
    """(vec_id, band, bv): the 4-band LSH table of a vector frame — at
    100 TB the existing-corpus output is a persisted table updated per
    ingest (the D36 band-table convention). Shared by D76/D77/E34."""
    sig = vecs.withColumn("bucket", F.expr(_BUCKET_FOLD.format(v="v")))
    return sig.select(
        "vec_id",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> "
                "struct(b AS band, (bucket DIV shiftleft(1L, 4 * b)) % 16 AS bv))"
            )
        ).alias("bb"),
    ).select("vec_id", "bb.band", "bb.bv")


def _incr_scored_frame(
    incoming: DataFrame, ex_bands: DataFrame, existing: DataFrame
) -> DataFrame:
    """Banded incoming-vs-existing candidate scores (src, dst, c):
    batch-side band probe → DISTINCT id-pairs → one normalized-dot
    cosine per pair. Shared by the D77/E34 edge kernel and the
    D90/E44 triplet kernel."""
    in_bands = knn_band_frame(incoming.select("vec_id", "v")).select(
        F.col("vec_id").alias("src"), "band", "bv"
    )
    pairs = (
        in_bands.join(
            ex_bands.select(F.col("vec_id").alias("dst"), "band", "bv"),
            ["band", "bv"],
        )
        .select("src", "dst")
        .distinct()
    )
    return (
        pairs.join(
            incoming.select(
                F.col("vec_id").alias("src"), F.expr(_UNIT_SPARK).alias("au")
            ),
            "src",
        )
        .join(
            existing.select(
                F.col("vec_id").alias("dst"), F.expr(_UNIT_SPARK).alias("bu")
            ),
            "dst",
        )
        .select("src", "dst", F.expr(_DOT_SPARK.format(a="au", b="bu")).alias("c"))
    )


def incr_knn_frame(
    incoming: DataFrame, ex_bands: DataFrame, existing: DataFrame
) -> DataFrame:
    """The D77 ingest kernel: incoming vectors vs a (persisted)
    existing-corpus band table + vector table — shared by batch D77 and
    the live E34 pipeline."""
    scored = _incr_scored_frame(incoming, ex_bands, existing)
    wr = Window.partitionBy("src").orderBy(F.col("c").desc(), "dst")
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= KNN_K)
        .select(
            "src",
            "dst",
            F.col("rank").cast("int").alias("rank"),
            F.round("c", 6).alias("cosine"),
        )
    )


# --- D79 -----------------------------------------------------------------
# Refresh-trigger thresholds: a cell whose mean squared assignment
# distance exceeds DRIFT_T has drifted from its representative; a cell
# holding more than OVERLOAD_SHARE of the corpus is an imbalance
# hotspot. Either condition is the operator's cue to run the D72
# refresh.
DRIFT_T = 1.625
OVERLOAD_SHARE = 0.13

DRIFT_ORACLE = (
    _KM_CTES
    + f""",
tot AS (SELECT count(*) AS n_total FROM a1),
per_cell AS (
  SELECT cluster, count(*) AS n_members,
         CAST(sum(CAST(round(dist, 7) AS DECIMAL(20,7))) AS DOUBLE) / count(*)
           AS md
  FROM a1 GROUP BY cluster
)
SELECT cluster AS cell,
       CAST(n_members AS BIGINT) AS n_members,
       round(md, 6) AS mean_sq_dist,
       round(CAST(n_members AS DOUBLE) / t.n_total, 6) AS load_share,
       md > {DRIFT_T} AS drifted,
       CAST(n_members AS DOUBLE) / t.n_total > {OVERLOAD_SHARE} AS overloaded
FROM per_cell CROSS JOIN tot t
"""
)


@register("index_drift_stats", DRIFT_ORACLE)
def index_drift_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MONITOR half of the day-2 index loop (D72 is the act): per
    IVF cell, how far the members have drifted from the as-built
    representative (mean squared assignment distance) and how much of
    the corpus the cell holds — with the two boolean cues (drifted /
    overloaded) an operator alerts on before paying the D72 re-train.
    The as-built representatives are the D40 seed convention, so the
    three operators (monitor → refresh → churn audit) describe the
    same index.

    Exactness: distances are sequential folds; per-cell sums round to
    7 dp and sum DECIMAL (order-free) with ONE double division; the
    flags compare that same division result to the threshold in both
    engines, and displayed values round at 6 dp after the compare is
    decided.

    SCALE: one row-local E-step over the corpus scan (broadcast
    packed representatives — the shared _kmeans_assign kernel), one
    partial agg to O(k) rows, a 1-row total broadcast. The live E36
    twin folds the identical per-cell counters additively per
    micro-batch.

    Reference analogue: none — training-data similarity family
    (FAISS day-2 index maintenance, the trigger side)."""
    e = _emb(spark, sf_dir)
    w = Window.orderBy("vec_id")
    seeds = (
        e.orderBy("vec_id")
        .limit(K_CLUSTERS)
        .select(
            (F.row_number().over(w) - 1).cast("int").alias("cluster"),
            F.col("v").alias("c"),
        )
    )
    cells = (
        _kmeans_assign(e, seeds)
        .groupBy("cluster")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.sum(F.expr("CAST(round(dist, 7) AS DECIMAL(20,7))")).alias("sum_d"),
        )
    )
    return drift_stats_from(cells)


def drift_stats_from(cells: DataFrame) -> DataFrame:
    """The D79 stats derivation from a per-cell counter frame
    (cluster, n_members, sum_d DECIMAL(20,7)) — shared by batch D79
    and the live E36 monitor, whose state folds the same counters
    additively (DECIMAL addition is exact, so the drained state
    re-derives the identical table)."""
    tot = cells.agg(F.sum("n_members").cast("bigint").alias("n_total"))
    md = F.col("sum_d").cast("double") / F.col("n_members")
    share = F.col("n_members").cast("double") / F.col("n_total")
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            F.col("cluster").alias("cell"),
            "n_members",
            F.round(md, 6).alias("mean_sq_dist"),
            F.round(share, 6).alias("load_share"),
            (md > DRIFT_T).alias("drifted"),
            (share > OVERLOAD_SHARE).alias("overloaded"),
        )
    )


# --- D82 -----------------------------------------------------------------
PR_SCALE = 10**12  # PageRank mass in 1e-12 fixed-point units
PR_BASE = 150_000_000_000  # (1 - d) * PR_SCALE with damping d = 0.85
PR_D_NUM, PR_D_DEN = 85, 100  # d as an exact integer ratio
PR_ITERS = 3  # fixed, unrolled in both engines
PR_TOPK = 50


def _pr_iter_duck(i: int) -> str:
    return f"""c{i} AS (
  SELECT g.dst AS vec_id, CAST(sum(p.p // p.out_deg) AS BIGINT) AS s
  FROM edges g JOIN pr{i - 1} p ON p.vec_id = g.src
  GROUP BY g.dst
),
pr{i} AS MATERIALIZED (
  SELECT nd.vec_id, nd.out_deg,
         CAST(({PR_BASE} // n.n)
              + ({PR_D_NUM} * coalesce(c{i}.s, 0)) // {PR_D_DEN} AS BIGINT) AS p
  FROM nodes nd
  LEFT JOIN c{i} ON c{i}.vec_id = nd.vec_id
  CROSS JOIN n
)"""


KNN_PAGERANK_ORACLE = f"""
WITH {_KNN_EDGES_CTES},
edges AS MATERIALIZED (
  SELECT src, dst FROM ranked WHERE rnk <= {KNN_K}
),
nodes AS MATERIALIZED (
  SELECT u.vec_id,
         CAST(coalesce(o.c, 0) AS BIGINT) AS out_deg,
         CAST(coalesce(i.c, 0) AS BIGINT) AS in_deg
  FROM (SELECT src AS vec_id FROM edges UNION SELECT dst FROM edges) u
  LEFT JOIN (SELECT src, count(*) AS c FROM edges GROUP BY src) o ON o.src = u.vec_id
  LEFT JOIN (SELECT dst, count(*) AS c FROM edges GROUP BY dst) i ON i.dst = u.vec_id
),
n AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
pr0 AS MATERIALIZED (
  SELECT vec_id, out_deg, CAST({PR_SCALE} // n.n AS BIGINT) AS p
  FROM nodes CROSS JOIN n
),
{_pr_iter_duck(1)},
{_pr_iter_duck(2)},
{_pr_iter_duck(3)}
SELECT vec_id, out_deg, in_deg, pr_e12, CAST(rnk AS INTEGER) AS rank
FROM (
  SELECT nd.vec_id, nd.out_deg, nd.in_deg, pr{PR_ITERS}.p AS pr_e12,
         row_number() OVER (ORDER BY pr{PR_ITERS}.p DESC, nd.vec_id) AS rnk
  FROM pr{PR_ITERS} JOIN nodes nd ON nd.vec_id = pr{PR_ITERS}.vec_id
)
WHERE rnk <= {PR_TOPK}
"""


@register("knn_graph_pagerank", KNN_PAGERANK_ORACLE)
def knn_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the D76 kNN similarity graph (Page et al. 1999,
    damping 0.85, {PR_ITERS} unrolled power iterations) — the graph
    centrality signal corpus-curation pipelines use for quality and
    diversity weighting: Common Crawl publishes exactly this family of
    host-graph rank scores, and CCNet/RefinedWeb-style filters consume
    them to prefer well-connected sources; on a similarity graph, high
    rank marks the corpus's dense semantic cores (down-weight for
    diversity) and near-zero rank its isolated fringe (review queue).
    Emits the top-{PR_TOPK} vectors by rank with in/out degree and the
    fixed-point score.

    Exactness (the B22 micro-unit convention): rank mass lives in
    BIGINT 1e-12 units; every step is integer division and an
    order-free BIGINT sum, so the result is bit-identical across
    engines, partitionings and arrival orders — no double ever sums.
    The kNN edge set has NO sinks by construction (band-sharing is
    symmetric, so any node appearing as a dst has at least one
    candidate and therefore out-degree >= 1), hence no dangling-mass
    term; isolated vectors (no band-mates) are outside the graph by
    definition.

    SCALE: the edge set is O(n*k) rows and is localCheckpoint-ed ONCE
    (the D16 lineage rule) so the {PR_ITERS} iterations re-read a
    materialized frame instead of embedding the whole band-join plan at
    every reference — before the r13 checkpoint this operator's single
    unrolled lineage planned 297 Exchange / 157 scan nodes (5x any
    other key: edges is referenced 3+4 times, each reference carrying
    the full D76 subtree) and the executors re-ran the band join
    per reference (123 executor-run s for 37 CPU s at sf0.1). Each
    iteration is one co-partitioned hash join on the edge key plus one
    map-side-combinable integer partial agg — at 100 TB both sides
    bucket by vec_id and the per-iteration shuffle carries only
    (vec_id, BIGINT) pairs. The node count is ONE bounded driver
    scalar (the D97 winner-collect class: a count over the
    checkpointed node frame) re-entering as a literal, so the
    PR_SCALE/PR_BASE divisions constant-fold instead of riding a
    broadcast-nested-loop join per iteration; the global top-{PR_TOPK}
    plans limit-first (TakeOrderedAndProject), never a global window
    over n rows.

    Reference analogue: none — training-data graph/curation family
    (SURVEY §2 D; composes D76's edges)."""
    edges = knn_graph_lsh(spark, sf_dir).select("src", "dst").localCheckpoint()
    outd = edges.groupBy("src").agg(F.count("*").cast("bigint").alias("od"))
    ind = edges.groupBy("dst").agg(F.count("*").cast("bigint").alias("idg"))
    ids = (
        edges.select(F.col("src").alias("vec_id"))
        .union(edges.select(F.col("dst").alias("vec_id")))
        .distinct()
    )
    nodes = (
        ids.join(outd.withColumnRenamed("src", "vec_id"), "vec_id", "left")
        .join(ind.withColumnRenamed("dst", "vec_id"), "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce("od", F.lit(0)).cast("bigint").alias("out_deg"),
            F.coalesce("idg", F.lit(0)).cast("bigint").alias("in_deg"),
        )
        .localCheckpoint()
    )
    # bounded driver scalar (one BIGINT); PR_SCALE DIV n and PR_BASE
    # DIV n on positive BIGINTs are exactly Python's // on exact ints,
    # so the folded literals are bit-identical to the column form. An
    # empty graph (n = 0) keeps the frame empty, so the literal value
    # is never observed — 0 only avoids the driver-side division.
    n = nodes.count()
    p0 = PR_SCALE // n if n else 0
    base = PR_BASE // n if n else 0
    pr = nodes.select(
        "vec_id",
        "out_deg",
        F.lit(p0).cast("bigint").alias("p"),
    )
    for _ in range(PR_ITERS):
        contrib = (
            edges.join(
                pr.select(F.col("vec_id").alias("src"), "out_deg", "p"), "src"
            )
            .groupBy("dst")
            .agg(F.sum(F.expr("p DIV out_deg")).cast("bigint").alias("s"))
            .withColumnRenamed("dst", "vec_id")
        )
        pr = (
            nodes.select("vec_id", "out_deg")
            .join(contrib, "vec_id", "left")
            .select(
                "vec_id",
                "out_deg",
                F.expr(
                    f"CAST({base} + ({PR_D_NUM} * "
                    f"coalesce(s, CAST(0 AS BIGINT))) DIV {PR_D_DEN} AS BIGINT)"
                ).alias("p"),
            )
        )
    top = (
        pr.join(nodes.select("vec_id", "in_deg"), "vec_id")
        .orderBy(F.col("p").desc(), "vec_id")
        .limit(PR_TOPK)
    )
    w = Window.orderBy(F.col("p").desc(), "vec_id")
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "vec_id", "out_deg", "in_deg", F.col("p").alias("pr_e12"), "rank"
        )
    )


# --- D83 -----------------------------------------------------------------
# Reciprocal-rank fusion of the lexical (BM25, D57) and semantic (exact
# cosine, D6) retrieval arms — the standard hybrid-search combiner
# (Cormack, Clarke & Buettcher, SIGIR 2009: RRF score = sum over arms of
# 1/(k0 + rank), k0 = 60), the shape Elasticsearch/Vespa/OpenSearch ship
# for "BM25 + vector" retrieval and the hard-negative-mining front-end of
# a training-data pipeline.
RRF_ARM_K = 20  # per-arm candidate depth
RRF_K0 = 60  # the published smoothing constant
RRF_TOPK = 10

from ..functions.text import (  # noqa: E402  (D83's lexical-arm constants)
    _BM25_TERMS_DUCK,
    BM25_B,
    BM25_K1,
    TOKENS_DUCK,
)

_RRF_RAW_DUCK = (
    f"coalesce(1.0 / ({RRF_K0} + l.lex_rank), 0.0)"
    f" + coalesce(1.0 / ({RRF_K0} + s.sem_rank), 0.0)"
)

HYBRID_RRF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS ts FROM documents WHERE doc_id <> 0
),
dl AS (SELECT doc_id, len(ts) AS dl FROM toks),
n_av AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avdl
  FROM dl
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS term FROM toks)
  WHERE term IN (SELECT unnest({_BM25_TERMS_DUCK}))
  GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT t.doc_id,
         CAST(round(
           ln((n_av.n - df.df + 0.5) / (df.df + 0.5) + 1)
             * t.tf * ({BM25_K1} + 1)
             / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / n_av.avdl)),
           8) AS DECIMAL(18,8)) AS c
  FROM tf t
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN n_av
),
lex AS (
  SELECT doc_id, CAST(sum(c) AS DOUBLE) AS bm25_score
  FROM contrib GROUP BY doc_id
  ORDER BY sum(c) DESC, doc_id LIMIT {RRF_ARM_K}
),
lexr AS (
  SELECT doc_id, bm25_score,
         CAST(row_number() OVER (ORDER BY bm25_score DESC, doc_id) AS INT)
           AS lex_rank
  FROM lex
),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
sem AS (
  SELECT e.vec_id AS doc_id, {_cos_expr('duck', 'e.v', 'q.qv')} AS cos_raw
  FROM e CROSS JOIN q
  WHERE e.vec_id <> 0
  ORDER BY {_cos_expr('duck', 'e.v', 'q.qv')} DESC, e.vec_id
  LIMIT {RRF_ARM_K}
),
semr AS (
  SELECT doc_id, cos_raw,
         CAST(row_number() OVER (ORDER BY cos_raw DESC, doc_id) AS INT)
           AS sem_rank
  FROM sem
)
SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
       l.lex_rank AS lex_rank, s.sem_rank AS sem_rank,
       round(l.bm25_score, 6) AS bm25_score,
       round(s.cos_raw, 6) AS cosine,
       round({_RRF_RAW_DUCK}, 6) AS rrf_score
FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
ORDER BY {_RRF_RAW_DUCK} DESC, coalesce(l.doc_id, s.doc_id)
LIMIT {RRF_TOPK}
"""


@register("hybrid_rrf_retrieval", HYBRID_RRF_ORACLE)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al. 2009):
    the BM25 lexical arm (D57's kernels, fixed query terms) and the exact
    cosine semantic arm (D6's kernel, query vector = vec 0) each produce
    their top-RRF_ARM_K candidates; each doc's fused score is
    sum(1 / (60 + rank)) over the arms it appears in, top-RRF_TOPK fused
    docs returned with per-arm ranks and scores. The doc_id==vec_id
    identity is the D66 cross-modal convention; the query doc (id 0) is
    held out of both arms.

    Exactness: BM25 arm scores are DECIMAL-exact sums (D57); the cosine
    is the sequential fold shared by every ANN operator, so per-arm
    ranks — and therefore the two-term RRF sum, evaluated row-locally in
    a fixed order — are bit-identical across engines.

    SCALE: each arm is already the scale-path plan (posting-slice
    explode cut pre-shuffle + TakeOrdered for BM25; broadcast query +
    per-partition top-k merge for cosine). Fusion itself touches two
    <=RRF_ARM_K-row frames: the rank windows and the full-outer join run
    on constant-size data at ANY corpus scale (the D52 convention), so
    the combiner adds zero data-sized shuffles. At 100 TB with a query
    BATCH, the same plan partitions by query id (D69's serving shape)
    and the windows become per-query.

    Reference analogue: none (training-data pipeline family — hybrid
    corpus search / hard-negative mining)."""
    from ..functions.text import bm25_topk_onepass

    docs = (
        load_parallel(spark, sf_dir, "documents")
        .filter(F.col("doc_id") != 0)
        .select("doc_id", "text")
    )
    # OPTIMIZATION r13: the lexical arm scores through the one-pass
    # bm25_doc_stats proxy (bit-identical to the tf/dl-frame close —
    # see bm25_topk_onepass) instead of tokenizing the corpus twice.
    lex = bm25_topk_onepass(docs, k=RRF_ARM_K)
    wl = Window.orderBy(F.col("bm25_score").desc(), "doc_id")
    lexr = lex.withColumn("lex_rank", F.row_number().over(wl).cast("int"))

    e = _emb(spark, sf_dir)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    sem = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", F.expr(_cos_expr("spark", "v", "qv")))
        .orderBy(F.col("cos_raw").desc(), "vec_id")
        .limit(RRF_ARM_K)
        .select(F.col("vec_id").alias("doc_id"), "cos_raw")
    )
    ws = Window.orderBy(F.col("cos_raw").desc(), "doc_id")
    semr = sem.withColumn("sem_rank", F.row_number().over(ws).cast("int"))

    rrf_raw = F.expr(
        f"coalesce(1.0D / ({RRF_K0} + lex_rank), 0.0D)"
        f" + coalesce(1.0D / ({RRF_K0} + sem_rank), 0.0D)"
    )
    return (
        lexr.join(semr, "doc_id", "full_outer")
        .withColumn("rrf_raw", rrf_raw)
        .orderBy(F.col("rrf_raw").desc(), "doc_id")
        .limit(RRF_TOPK)
        .select(
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round("bm25_score", 6).alias("bm25_score"),
            F.round("cos_raw", 6).alias("cosine"),
            F.round("rrf_raw", 6).alias("rrf_score"),
        )
    )


# --- D85 -----------------------------------------------------------------
# Multi-query hybrid retrieval — D83's RRF in D69's SERVING shape, with
# the query derived from a document ("more-like-this" hybrid search:
# the Elasticsearch MLT + kNN pattern, RRF-fused per Cormack et al.
# 2009). Every doc_id % QUERY_MOD == 0 document is a query: its own
# DISTINCT tokens are the lexical arm's terms, its embedding
# (vec_id == doc_id, the D66 convention) is the semantic arm's vector;
# both arms search the remaining corpus, fuse per query, top-RRF_MQ_TOPK.
RRF_MQ_TOPK = 5
_RRF_QUERY_MOD = 100  # the D69 workload convention


def rrf_multiquery_frame(
    qterms: DataFrame,
    qvecs: DataFrame,
    tf: DataFrame,
    dl: DataFrame,
    corpus_vecs: DataFrame,
) -> DataFrame:
    """Close the multi-query RRF ranking from serving-index frames —
    shared by batch D85 and live E39.

    Inputs: ``qterms`` (qid, term) DISTINCT per query; ``qvecs``
    (qid, qv); ``tf`` (doc_id, term, tf) corpus postings; ``dl``
    (doc_id, dl) corpus doc lengths; ``corpus_vecs`` (doc_id, v)
    unit-searchable corpus vectors. Query frames are request-sized and
    broadcast; corpus frames are the persisted serving index.

    SCALE: df/n/avdl are tiny aggregates; the lexical join touches only
    postings of the batch's terms (qterms broadcast); the semantic arm
    broadcasts the query batch onto the corpus scan (per-partition
    top-k semantics via the per-qid rank windows — WindowGroupLimit
    pushes the rank<=K filter down); fusion joins two
    O(|queries|·ARM_K)-row frames. Nothing corpus-sized shuffles; at
    100 TB the semantic arm swaps to the IVF probed path (D69) with
    the same downstream kernel."""
    n_av = dl.agg(
        F.count("*").cast("bigint").alias("n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avdl"),
    )
    batch_terms = qterms.select("term").distinct()
    tfq = tf.join(F.broadcast(batch_terms), "term")
    df = tfq.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    idf = F.log((F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
    from ..functions.text import BM25_B, BM25_K1

    sat = (F.col("tf") * (BM25_K1 + 1)) / (
        F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avdl"))
    )
    contrib = (
        tfq.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(n_av))
        .select(
            "qid", "doc_id", F.round(idf * sat, 8).cast("decimal(18,8)").alias("c")
        )
    )
    wl = Window.partitionBy("qid").orderBy(F.col("sc").desc(), "doc_id")
    lexr = (
        contrib.groupBy("qid", "doc_id")
        .agg(F.sum("c").alias("sc"))
        .withColumn("lex_rank", F.row_number().over(wl).cast("int"))
        .filter(F.col("lex_rank") <= RRF_ARM_K)
        .select("qid", "doc_id", F.col("sc").cast("double").alias("bm25_score"), "lex_rank")
    )
    ws = Window.partitionBy("qid").orderBy(F.col("cos_raw").desc(), "doc_id")
    # OPTIMIZATION r13 (norm factorization — bit-identical): the 3-fold
    # _cos_expr paid dot(v,v) and dot(qv,qv) PER PAIR on the
    # |corpus|×|queries| cross stage. The self-dots depend on one side
    # only, so they hoist below the join (nv once per corpus row, nq
    # once per query row — projections under a join are never collapsed
    # up through it) and each pair pays ONE fold + sqrt(nv * nq):
    # identical operations on identical values ⇒ the same double as
    # dot / sqrt(dot(v,v) * dot(qv,qv)), no oracle change.
    self_dot = _DOT_SPARK.format(a="v", b="v")
    q_self_dot = _DOT_SPARK.format(a="qv", b="qv")
    semr = (
        corpus_vecs.select("doc_id", "v", F.expr(self_dot).alias("nv"))
        .crossJoin(
            F.broadcast(qvecs.select("qid", "qv", F.expr(q_self_dot).alias("nq")))
        )
        .withColumn(
            "cos_raw",
            F.expr(f"{_DOT_SPARK.format(a='v', b='qv')} / sqrt(nv * nq)"),
        )
        .withColumn("sem_rank", F.row_number().over(ws).cast("int"))
        .filter(F.col("sem_rank") <= RRF_ARM_K)
        .select("qid", "doc_id", "cos_raw", "sem_rank")
    )
    rrf_raw = F.expr(
        f"coalesce(1.0D / ({RRF_K0} + lex_rank), 0.0D)"
        f" + coalesce(1.0D / ({RRF_K0} + sem_rank), 0.0D)"
    )
    wf = Window.partitionBy("qid").orderBy(F.col("rrf_raw").desc(), "doc_id")
    return (
        lexr.join(semr, ["qid", "doc_id"], "full_outer")
        .withColumn("rrf_raw", rrf_raw)
        .withColumn("rank", F.row_number().over(wf).cast("int"))
        .filter(F.col("rank") <= RRF_MQ_TOPK)
        .select(
            "qid",
            "doc_id",
            "lex_rank",
            "sem_rank",
            F.round("bm25_score", 6).alias("bm25_score"),
            F.round("cos_raw", 6).alias("cosine"),
            F.round("rrf_raw", 6).alias("rrf_score"),
            "rank",
        )
    )


_MQ_RRF_RAW_DUCK = (
    f"coalesce(1.0 / ({RRF_K0} + lex_rank), 0.0)"
    f" + coalesce(1.0 / ({RRF_K0} + sem_rank), 0.0)"
)

HYBRID_RRF_MQ_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {TOKENS_DUCK} AS ts FROM documents
),
qids AS (SELECT doc_id AS qid FROM documents WHERE doc_id % {_RRF_QUERY_MOD} = 0),
corpus AS (SELECT doc_id, ts FROM toks WHERE doc_id % {_RRF_QUERY_MOD} <> 0),
dl AS (SELECT doc_id, len(ts) AS dl FROM corpus),
n_av AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(dl) AS DOUBLE) / count(*) AS avdl
  FROM dl
),
qterms AS (
  SELECT DISTINCT q.qid, t.term
  FROM qids q JOIN (SELECT doc_id, unnest(ts) AS term FROM toks) t
    ON t.doc_id = q.qid
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM (SELECT doc_id, unnest(ts) AS term FROM corpus)
  WHERE term IN (SELECT DISTINCT term FROM qterms)
  GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT qt.qid, t.doc_id,
         CAST(round(
           ln((n_av.n - df.df + 0.5) / (df.df + 0.5) + 1)
             * t.tf * ({BM25_K1} + 1)
             / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / n_av.avdl)),
           8) AS DECIMAL(18,8)) AS c
  FROM qterms qt
  JOIN tf t USING (term)
  JOIN df USING (term)
  JOIN dl ON dl.doc_id = t.doc_id
  CROSS JOIN n_av
),
lex AS (
  SELECT qid, doc_id, CAST(sum(c) AS DOUBLE) AS bm25_score,
         row_number() OVER (PARTITION BY qid ORDER BY sum(c) DESC, doc_id) AS rn
  FROM contrib GROUP BY qid, doc_id
),
lexr AS (
  SELECT qid, doc_id, bm25_score, CAST(rn AS INT) AS lex_rank
  FROM lex WHERE rn <= {RRF_ARM_K}
),
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) > 0
),
qv AS (SELECT q.qid, e.v AS qv FROM qids q JOIN e ON e.vec_id = q.qid),
sem0 AS (
  SELECT qv.qid, e.vec_id AS doc_id,
         {_cos_expr('duck', 'e.v', 'qv.qv')} AS cos_raw
  FROM e CROSS JOIN qv
  WHERE e.vec_id % {_RRF_QUERY_MOD} <> 0
),
semr AS (
  SELECT qid, doc_id, cos_raw, CAST(rn AS INT) AS sem_rank
  FROM (
    SELECT qid, doc_id, cos_raw,
           row_number() OVER (PARTITION BY qid ORDER BY cos_raw DESC, doc_id) AS rn
    FROM sem0
  ) WHERE rn <= {RRF_ARM_K}
),
fused AS (
  SELECT qid, doc_id, lex_rank, sem_rank, bm25_score, cos_raw,
         {_MQ_RRF_RAW_DUCK} AS rrf_raw
  FROM lexr FULL OUTER JOIN semr USING (qid, doc_id)
)
SELECT qid, doc_id, lex_rank, sem_rank,
       round(bm25_score, 6) AS bm25_score,
       round(cos_raw, 6) AS cosine,
       round(rrf_raw, 6) AS rrf_score,
       CAST(rn AS INT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rrf_raw DESC, doc_id) AS rn
  FROM fused
) WHERE rn <= {RRF_MQ_TOPK}
"""


@register("hybrid_rrf_multiquery", HYBRID_RRF_MQ_ORACLE)
def hybrid_rrf_multiquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query hybrid retrieval — D83's RRF combiner in D69's
    serving shape, query-by-document ("more-like-this" hybrid search):
    every doc_id % 100 == 0 document queries the remaining corpus with
    its own DISTINCT tokens (BM25 arm, D57's model over the corpus-side
    postings) and its embedding (exact-cosine arm, vec_id == doc_id per
    the D66 convention); per query the two top-20 arms fuse by
    sum(1/(60+rank)) and the top-5 fused docs are returned with per-arm
    ranks and scores. Batch twin of live E39 — both run the shared
    rrf_multiquery_frame kernel.

    Exactness: DECIMAL-summed BM25 contributions, the shared sequential
    cosine fold, and per-qid row_number windows tie-broken on doc_id —
    ranks and the row-local two-term RRF sum are bit-identical across
    engines.

    SCALE: see rrf_multiquery_frame. Query-side frames are
    request-sized and broadcast; only the batch's posting slice and one
    corpus-vector scan are touched; every window is per-QUERY.

    Reference analogue: none (training-data pipeline family — hybrid
    corpus search / hard-negative mining at serving granularity)."""
    from ..functions.text import TOKENS_SPARK

    toks = (
        load_parallel(spark, sf_dir, "documents")
        .select("doc_id", F.expr(TOKENS_SPARK).alias("ts"))
        .localCheckpoint()  # shared by FOUR concurrent derivations
        # (qterms, tf, dl, qids) — a lazily-populated persist() let the
        # racing branch stages re-tokenize per reference (CPU 27.0 ->
        # 23.3 s interleaved at sf0.1, OPTIMIZATION r13 §F)
    )
    qids = toks.filter(F.col("doc_id") % _RRF_QUERY_MOD == 0).select(
        F.col("doc_id").alias("qid"), "ts"
    )
    qterms = qids.select("qid", F.explode("ts").alias("term")).distinct()
    corpus = toks.filter(F.col("doc_id") % _RRF_QUERY_MOD != 0)
    tf = (
        corpus.select("doc_id", F.explode("ts").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = corpus.select("doc_id", F.expr("CAST(size(ts) AS BIGINT)").alias("dl"))
    e = _emb(spark, sf_dir)
    qvecs = (
        e.join(F.broadcast(qids.select("qid")), e.vec_id == F.col("qid"))
        .select("qid", F.col("v").alias("qv"))
    )
    corpus_vecs = e.filter(F.col("vec_id") % _RRF_QUERY_MOD != 0).select(
        F.col("vec_id").alias("doc_id"), "v"
    )
    return rrf_multiquery_frame(qterms, qvecs, tf, dl, corpus_vecs)


# --- D87 -----------------------------------------------------------------
# Johnson-Lindenstrauss sparse random projection (Achlioptas 2003:
# entries +1/0/-1 with prob 1/6, 2/3, 1/6, scaled sqrt(3/k)) from
# DIM=64 down to JL_K=16, plus the distortion audit that decides
# whether the projected space is safe to cluster/dedup in — the
# dimension-reduction member of the compression family next to D31's
# scalar and D68's product quantization. Projection matrix entries are
# md5-derived (the _hp_weights convention) so both engines fold the
# SAME constant literals.
JL_K = 16
JL_PAIR_MOD = 20  # audit pairs: (vec_id, vec_id+1) for vec_id % 20 == 0


def _jl_weights(j: int) -> list[float]:
    """Row j of the sparse JL matrix: md5('jl:<j>:<d>') mod 6 -> 0 maps
    to +1, 1 maps to -1, else 0 (the 1/6, 1/6, 2/3 Achlioptas split);
    scale sqrt(3/k) folds into the literal so the projection is one
    fused multiply-add chain."""
    import math

    s = math.sqrt(3.0 / JL_K)
    out = []
    for d in range(DIM):
        h = int(hashlib.md5(f"jl:{j}:{d}".encode()).hexdigest()[:8], 16) % 6
        out.append(s if h == 0 else (-s if h == 1 else 0.0))
    return out


def _jl_literal(j: int, dialect: str) -> str:
    vals = ", ".join(repr(x) for x in _jl_weights(j))
    return f"array({vals})" if dialect == "spark" else f"[{vals}]"


def _jl_proj(dialect: str, v: str) -> str:
    """Project v to JL_K dims: each output dim is the D6-convention
    sequential fold against one constant row literal."""
    dims = []
    for j in range(JL_K):
        w = _jl_literal(j, dialect)
        if dialect == "spark":
            dims.append(
                f"aggregate(zip_with({v}, {w}, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
            )
        else:
            dims.append(
                f"list_reduce(list_transform(range({DIM}), d -> {v}[d + 1] * ({w})[d + 1]), (x, y) -> x + y)"
            )
    inner = ", ".join(dims)
    return f"array({inner})" if dialect == "spark" else f"[{inner}]"


JL_AUDIT_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE list_reduce(list_transform(embedding::DOUBLE[], x -> x * x), (a, b) -> a + b) > 0
),
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         a.v AS va, b.v AS vb,
         {_jl_proj('duck', 'a.v')} AS pa,
         {_jl_proj('duck', 'b.v')} AS pb
  FROM e a JOIN e b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % {JL_PAIR_MOD} = 0
),
s AS (
  SELECT vec_a, vec_b,
         round({_cos_expr('duck', 'va', 'vb')}, 6) AS cos_full,
         round({_cos_expr('duck', 'pa', 'pb')}, 6) AS cos_proj
  FROM p
)
SELECT vec_a, vec_b, cos_full, cos_proj,
       round(abs(cos_full - cos_proj), 6) AS abs_err
FROM s ORDER BY vec_a
"""


@register("jl_projection_audit", JL_AUDIT_ORACLE)
def jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse random projection (Achlioptas 2003 JL transform, 64 → 16
    dims, ±1/0 entries at 1/6-2/3-1/6 with sqrt(3/k) scale) with the
    cosine-distortion audit over a deterministic pair sample — the
    go/no-go check before running clustering or near-dup search in the
    cheap projected space. Completes the compression family: D31
    quantizes values (SQ8), D68 quantizes subspaces (PQ), D87 reduces
    dimensions (JL); all three carry their own exactness audit.

    Exactness: the projection matrix is md5-derived constant literals
    (the D7 hyperplane convention), every dot product is the shared
    sequential fold, and outputs are rounded to 6 dp — bit-identical
    across engines.

    SCALE: the projection is a row-local map (16 folds over one
    64-float row — at 100 TB this is the cheap pass that shrinks every
    downstream shuffle 4×); the audit joins consecutive vec_ids on a
    co-partitioned equi-key (a 1/{JL_PAIR_MOD} sample, no broadcast
    assumption) and touches nothing else.

    Reference analogue: none (training-data pipeline family —
    embedding compression next to D31/D42/D68)."""
    e = _emb(spark, sf_dir)
    a = e.filter(F.col("vec_id") % JL_PAIR_MOD == 0).select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("va")
    )
    b = e.select((F.col("vec_id") - 1).alias("vec_a"), F.col("v").alias("vb"))
    pairs = a.join(b, "vec_a").select(
        "vec_a",
        (F.col("vec_a") + 1).alias("vec_b"),
        "va",
        "vb",
        F.expr(_jl_proj("spark", "va")).alias("pa"),
        F.expr(_jl_proj("spark", "vb")).alias("pb"),
    )
    s = pairs.select(
        "vec_a",
        "vec_b",
        F.round(F.expr(_cos_expr("spark", "va", "vb")), 6).alias("cos_full"),
        F.round(F.expr(_cos_expr("spark", "pa", "pb")), 6).alias("cos_proj"),
    )
    return s.select(
        "vec_a",
        "vec_b",
        "cos_full",
        "cos_proj",
        F.round(F.abs(F.col("cos_full") - F.col("cos_proj")), 6).alias("abs_err"),
    ).orderBy("vec_a")


# --- D89 -----------------------------------------------------------------
TRIPLET_MARGIN = 0.05  # positive must beat the hard negative by this cosine gap

# The positive-pick / margin-cut / hard-negative-pick SQL tail, ONE
# module constant appended to either candidate chain (_KNN_EDGES_CTES
# for whole-corpus D89, _INCR_KNN_CTES for at-ingest D90) — the
# substring-island convention: one definition, no drift.
_TRIPLET_SQL_TAIL = f""",
pos AS (
  SELECT src, dst AS pos_id, c AS pos_c FROM ranked WHERE rnk = 1
),
neg AS (
  SELECT r.src, r.dst AS neg_id, r.c AS neg_c,
         row_number() OVER (PARTITION BY r.src ORDER BY r.c DESC, r.dst)
           AS nrnk
  FROM ranked r
  JOIN pos p ON p.src = r.src
  WHERE r.c <= p.pos_c - {TRIPLET_MARGIN}
)
SELECT pos.src AS anchor, pos.pos_id, round(pos.pos_c, 6) AS pos_cosine,
       neg.neg_id, round(neg.neg_c, 6) AS neg_cosine,
       round(pos.pos_c - neg.neg_c, 6) AS margin
FROM pos JOIN neg ON neg.src = pos.src AND neg.nrnk = 1
"""

CONTRASTIVE_ORACLE = f"""
WITH {_KNN_EDGES_CTES}{_TRIPLET_SQL_TAIL}"""


def triplets_from_scored(scored: DataFrame) -> DataFrame:
    """The triplet-selection kernel over any (src, dst, c) candidate
    frame — the Spark twin of `_TRIPLET_SQL_TAIL`, ONE definition
    shared by whole-corpus D89, at-ingest D90 and live E44: positive =
    top-ranked candidate, hard negative = top-ranked candidate at
    least {TRIPLET_MARGIN} cosine below it. Callers persist `scored`
    when both branches should share one materialization."""
    wr = Window.partitionBy("src").orderBy(F.col("c").desc(), "dst")
    pos = (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") == 1)
        .select("src", F.col("dst").alias("pos_id"), F.col("c").alias("pos_c"))
    )
    neg = (
        scored.join(pos, "src")
        .filter(F.col("c") <= F.col("pos_c") - F.lit(TRIPLET_MARGIN))
        .withColumn("nrnk", F.row_number().over(wr))
        .filter(F.col("nrnk") == 1)
    )
    return neg.select(
        F.col("src").alias("anchor"),
        "pos_id",
        F.round("pos_c", 6).alias("pos_cosine"),
        F.col("dst").alias("neg_id"),
        F.round("c", 6).alias("neg_cosine"),
        F.round(F.col("pos_c") - F.col("c"), 6).alias("margin"),
    )


@register("contrastive_triplets", CONTRASTIVE_ORACLE)
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative triplet mining for embedding-model training (the
    DPR / SimCSE / sentence-transformers curation shape): per anchor
    vector, positive = its nearest band-sharing neighbor, hard
    negative = the MOST similar candidate at least {TRIPLET_MARGIN}
    cosine BELOW the positive — similar enough to be informative,
    separated enough to not be a false negative. Anchors whose
    candidate set has no such gap emit no triplet (a near-duplicate
    clique yields nothing — correct: there is no contrast to learn).
    Composes D76's banded candidate chain the way D82 composes its
    edges; the downstream USE of the kNN machinery, not a re-derivation.

    Determinism: candidates, cosines and both rank windows are the
    D76 chain (fixed literal hyperplanes, sequential dot folds, ties
    to the lower dst), and the margin cut compares raw doubles that
    are bit-identical across engines — triplet SETS match exactly.

    SCALE: identical candidate bounds to D76 (band self-join on
    (vec_id, band-value) rows, DISTINCT id-pairs before any vector is
    fetched, cosines only inside buckets); the scored frame is
    persisted once (release_operator_caches contract) because the
    positive and negative branches both read it; both windows
    partition per anchor — never global. Output is O(n) triplets.

    Reference analogue: none — training-data similarity family
    (SURVEY §2 D; composes D76's candidates)."""
    scored = _knn_scored_frame(_emb(spark, sf_dir)).localCheckpoint()
    # localCheckpoint, not persist (OPTIMIZATION r13): the positive and
    # hard-negative branches read this frame from CONCURRENT stages of
    # one action, and a lazily-populated cache lets both race it and
    # re-run the whole band-join pipeline (measured CPU 47.5 -> 17.0 s
    # interleaved at sf0.1); the checkpoint materializes once,
    # synchronously, before either branch plans.
    return triplets_from_scored(scored)


# --- D90 -----------------------------------------------------------------
INCR_TRIPLET_ORACLE = f"""
WITH {_INCR_KNN_CTES}{_TRIPLET_SQL_TAIL}"""


@register("incr_triplet_mining", INCR_TRIPLET_ORACLE)
def incr_triplet_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D89's triplet mining in D36's production shape: each NEW batch
    of embeddings (odd vec_ids stand in for fresh arrivals) mines its
    (anchor, positive, hard-negative) training triplets ASYMMETRICALLY
    against the existing index (even vec_ids) — the continuous
    curation loop that keeps an embedding model's fine-tuning set
    growing as the corpus does, without ever re-mining the whole-corpus
    D89 graph. No incoming-incoming or existing-existing pairs exist
    by construction.

    Determinism: the D77 candidate chain (fixed literal hyperplanes,
    sequential dot folds, ties to the lower dst) + D89's raw-double
    margin cut — triplet SETS are bit-identical cross-engine.

    SCALE: the existing side is the persisted band table +
    vec_id-bucketed vector table (the D36 convention); each ingest
    pays batch-sized signature folds + a batch-probed band join + one
    cosine per DISTINCT surviving pair; the scored frame persists once
    for the two branches (release_operator_caches contract; E44
    unpersists per trigger instead) and both rank windows partition
    per anchor. Batch twin of live E44 (shared ``_incr_scored_frame``
    + ``triplets_from_scored`` kernels).

    Reference analogue: none — training-data similarity family
    (SURVEY §2 D; composes D77's candidates + D89's rule)."""
    e = _emb(spark, sf_dir)
    incoming = e.filter(F.col("vec_id") % 2 == 1)
    existing = e.filter(F.col("vec_id") % 2 == 0)
    scored = _incr_scored_frame(
        incoming, knn_band_frame(existing), existing
    ).localCheckpoint()
    # localCheckpoint, not persist (OPTIMIZATION r13): same concurrent-
    # branch cache race as D89 — CPU 12.9 -> 6.0 s interleaved at sf0.1.
    return triplets_from_scored(scored)


# --- D96 -----------------------------------------------------------------
KCENTER_K = 8  # selected coreset size (greedy 2-approximation steps)

# Oracle: the greedy chain as K-1 mechanically generated CTE pairs —
# sel_i picks the current farthest point (cosine-distance argmax,
# vec_id tie-break), m_i folds it into the running min-distance. Both
# engines evaluate the IDENTICAL sequential dot folds and least()
# chains, so the selected SET (not just the scores) is bit-identical.
_KC_DIST_DUCK = (
    "1.0 - " + _DOT_DUCK.format(a="m.u", b="s.u")
)


def _kcenter_oracle() -> str:
    steps = []
    for i in range(1, KCENTER_K):
        steps.append(
            f"""sel{i} AS (
  SELECT m.vec_id, m.u, m.d, {i} AS rank
  FROM m{i - 1} m ORDER BY m.d DESC, m.vec_id LIMIT 1
),
m{i} AS (
  SELECT m.vec_id, m.u,
         least(m.d, {_KC_DIST_DUCK}) AS d
  FROM m{i - 1} m CROSS JOIN sel{i} s
  WHERE m.vec_id <> s.vec_id
)"""
        )
    sel_union = "\nUNION ALL\n".join(
        f"SELECT rank, vec_id, round(d, 6) AS radius FROM sel{i}"
        for i in range(1, KCENTER_K)
    )
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
en AS (
  SELECT vec_id, {_UNIT_DUCK} AS u FROM e
),
m0 AS (
  SELECT m.vec_id, m.u,
         1.0 - {_DOT_DUCK.format(a='m.u', b='s.u')} AS d
  FROM en m CROSS JOIN (SELECT u FROM en WHERE vec_id = 0) s
  WHERE m.vec_id <> 0
),
{','.join(steps)}
SELECT 0 AS rank, CAST(0 AS BIGINT) AS vec_id, 0.0 AS radius
UNION ALL
{sel_union}
"""


KCENTER_ORACLE = _kcenter_oracle()


@register("kcenter_coreset", KCENTER_ORACLE)
def kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the embedding corpus
    (Gonzalez 1985's farthest-point 2-approximation — the facility-
    location/coreset data-selection primitive behind diversity-first
    curation: pick {KCENTER_K} documents that maximally COVER the
    embedding space, the complement of D41's redundancy pruning and
    D35's outlier audit). Seeded at vec_id 0 (the D6 query
    convention); each step selects the point farthest (cosine
    distance) from everything selected so far and emits its selection
    radius — the monotone radii are the coverage-vs-budget curve a
    "how many exemplars do I need" decision reads.

    Exactness: distances are 1 − one sequential dot fold over
    pre-normalized unit vectors; the running min folds through
    identical least() chains; each argmax breaks ties on vec_id — the
    selected SET is bit-identical cross-engine (the D82 unrolled-
    iteration convention, selection flavor).

    SCALE: each of the {KCENTER_K}−1 unrolled steps is ONE row-local
    pass over the corpus (the 1-row selected point broadcasts; the
    running min rides the row), plus a TakeOrdered(1) — no corpus
    shuffle anywhere, no window, nothing pairwise; cost is K linear
    scans exactly like the published greedy bound. The running-min
    frame `m` is localCheckpoint-ed each step (the D16 lineage rule):
    every step references the previous `m` twice (the argmax AND the
    fold), so without truncation the LOGICAL plan doubles per step
    (~2^(K−1) copies of the embedding scan at K={KCENTER_K}) and the
    analyzer — not the executors — becomes the bottleneck as K grows;
    with the checkpoint each step is genuinely one linear pass over
    materialized rows. K is a constant budget (exemplar counts are
    human-sized); for large K the standard move is this operator per
    IVF cell (D13's partition) — same kernel, cells in parallel.

    Reference analogue: none (training-data similarity family,
    selection side)."""
    e = _emb(spark, sf_dir)
    en = e.select("vec_id", F.expr(_UNIT_SPARK).alias("u"))
    return kcenter_frame(spark, en, KCENTER_K)


def kcenter_frame(spark: SparkSession, en: DataFrame, k: int) -> DataFrame:
    """The D96 greedy chain over any (vec_id, u unit-vector) frame with
    the budget as a parameter — k linear localCheckpoint-bounded passes
    (tests/test_properties.py::test_kcenter_large_k_plan_bounded proves
    the chain stays tractable at k well beyond the registered budget,
    which the pre-checkpoint 2^(k−1) plan could not)."""
    seed = en.filter(F.col("vec_id") == 0).select(F.col("u").alias("su"))
    dist = "1.0D - " + _DOT_SPARK.format(a="u", b="su")
    # localCheckpoint: each unrolled step below references the previous
    # `m` twice (argmax + running-min fold), so without lineage
    # truncation the logical plan doubles per step — 2^(K-1) copies of
    # the embedding scan by the last pick. Checkpointing bounds every
    # step to one pass over materialized rows (the D16 rule).
    m = (
        en.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(seed))
        .select("vec_id", "u", F.expr(dist).alias("d"))
        .localCheckpoint()
    )
    picks = [
        spark.range(1).select(
            F.lit(0).alias("rank"),
            F.lit(0).cast("bigint").alias("vec_id"),
            F.lit(0.0).alias("radius"),
        )
    ]
    for i in range(1, k):
        sel = (
            m.orderBy(F.col("d").desc(), "vec_id")
            .limit(1)
            .select(
                F.col("vec_id").alias("sel_id"),
                F.col("u").alias("su"),
                F.col("d").alias("sel_d"),
            )
            .localCheckpoint()  # 1 row; read by both the pick and the fold
        )
        picks.append(
            sel.select(
                F.lit(i).alias("rank"),
                F.col("sel_id").alias("vec_id"),
                F.round("sel_d", 6).alias("radius"),
            )
        )
        m = (
            m.crossJoin(F.broadcast(sel))
            .filter(F.col("vec_id") != F.col("sel_id"))
            .select(
                "vec_id",
                "u",
                F.least(F.col("d"), F.expr(dist)).alias("d"),
            )
            .localCheckpoint()
        )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out
