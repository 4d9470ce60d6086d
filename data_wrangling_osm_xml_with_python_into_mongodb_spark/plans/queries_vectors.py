"""Similarity search over the embeddings table (training-data pipeline
surface): brute-force cosine top-k as the correctness baseline, a
random-hyperplane LSH bucketed variant and IVF coarse centroids as the
scale paths.

All vector math is double-precision sequential folds with formula
shapes mirrored exactly in the DuckDB oracle (functions/vectors.py), so
even the LSH sign bits are portable.

Scale notes: brute-force is O(Q x N) with the query side broadcast --
embarrassingly parallel, no shuffle on the candidate side; the LSH
variant turns it into an equi-join on bucket (shuffle on bucket key);
IVF prunes candidates to the probed cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions.hashing import HASH_PRIME, perm_params
from .queries import _spread, _t, register


@register(
    "v1_ann_bruteforce_topk",
    "Brute-force cosine top-5 neighbors for each query vector (ANN "
    "baseline; query side broadcast, candidates scanned in place).",
    f"""
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({V.cosine_sql('q.embedding::DOUBLE[]', 'c.embedding::DOUBLE[]')}, 6)
             AS cos_sim
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 10
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY round({V.cosine_sql('q.embedding::DOUBLE[]', 'c.embedding::DOUBLE[]')}, 6) DESC,
               c.vec_id ASC) <= 5
    """,
    tags=("vector", "topk"),
)
def q_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        V.as_double(F.col("embedding")).alias("v"),
    )
    # Hoist each row's norm out of the pairwise loop: sqrt(dot(x,x)) is
    # computed once per vector instead of once per pair, and
    # dot(a,b)/(na*nb) is IEEE-identical to the unhoisted formula (same
    # operations on the same doubles, just not recomputed).
    emb = emb.withColumn("n", V.norm("v", dim=EMBED_DIM))
    # Query side: tiny, read straight off the scan (vec_id filter is
    # pushed down) and broadcast.  Candidate side: spread across cores
    # before the per-row vector math.
    q = emb.filter(F.col("vec_id") < 10).alias("q")
    c = _spread(emb).alias("c")
    sims = (
        c.join(F.broadcast(q), F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.round(
                V.dot("q.v", "c.v", dim=EMBED_DIM)
                / (F.col("q.n") * F.col("c.n")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
    )


# --- Random-hyperplane LSH: deterministic, engine-portable planes.
# plane[p][d] = ((a_p * (d+1) + b_p) % PRIME) / PRIME - 0.5
_N_PLANES = 12
_PLANES = perm_params(_N_PLANES)
EMBED_DIM = 64  # embeddings table width (TESTDATA.md)


def _plane_weights(a: int, b: int) -> list[float]:
    """Plane components as Python doubles -- exact IEEE match for the
    oracle's ((d*a+b) % p)::DOUBLE / p - 0.5 (all steps exact/deterministic
    in int64 + double)."""
    return [
        ((d * a + b) % HASH_PRIME) / HASH_PRIME - 0.5
        for d in range(1, EMBED_DIM + 1)
    ]


def _bucket_spark(vec: F.Column | str) -> F.Column:
    """Sum of 2^p over planes with positive dot(plane_p, vec).  Plane
    constants fold to literals driver-side; the per-row work is an
    unrolled codegen'd multiply-add chain, not an interpreted HOF."""
    total = None
    for p, (a, b) in enumerate(_PLANES):
        dot = V.dot_literal(vec, _plane_weights(a, b))
        term = F.when(dot > 0, F.lit(1 << p)).otherwise(F.lit(0))
        total = term if total is None else total + term
    return total.cast("long")


def _bucket_sql(vec: str) -> str:
    terms = []
    for p, (a, b) in enumerate(_PLANES):
        plane = (
            f"list_transform(range(1, 65), "
            f"d -> ((d * {a} + {b}) % {HASH_PRIME})::DOUBLE / {HASH_PRIME}.0 - 0.5)"
        )
        dot = f"list_dot_product({vec}, {plane})"
        terms.append(f"(CASE WHEN {dot} > 0 THEN {1 << p} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "v2_ann_lsh_buckets",
    "Random-hyperplane LSH bucket assignment (12 deterministic planes): "
    "the scale path that converts ANN into an equi-join on bucket.",
    f"""
    SELECT bucket, count(*) AS n_vectors,
           min(vec_id) AS min_vec_id
    FROM (
      SELECT vec_id, {_bucket_sql('embedding::DOUBLE[]')} AS bucket
      FROM embeddings
    )
    GROUP BY bucket
    """,
    tags=("vector", "lsh"),
)
def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    return (
        emb.select("vec_id", _bucket_spark("v").alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


@register(
    "v3_ivf_centroids",
    "IVF coarse-quantizer build: per-label centroid via positional "
    "explode + per-dimension mean (IVF index-build stage).",
    """
    SELECT label, idx, round(avg(val), 6) AS centroid_val
    FROM (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) AS BIGINT) AS idx,
             unnest(embedding)::DOUBLE AS val
      FROM embeddings
    )
    GROUP BY label, idx
    """,
    tags=("vector", "ivf"),
)
def q_ivf_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", (F.col("pos") + 1).cast("long").alias("idx"), F.col("col").alias("val"))
    return exploded.groupBy("label", "idx").agg(
        F.round(F.avg("val"), 6).alias("centroid_val")
    )


def _centroids_sql() -> str:
    """Per-label centroid vectors (list ordered by dimension), rounded to
    6 places so both engines carry identical doubles."""
    return """
      SELECT label,
             list(cv ORDER BY idx) AS cvec
      FROM (
        SELECT label, idx, round(avg(val), 6) AS cv
        FROM (
          SELECT label,
                 CAST(generate_subscripts(embedding, 1) AS BIGINT) AS idx,
                 unnest(embedding)::DOUBLE AS val
          FROM embeddings
        )
        GROUP BY label, idx
      )
      GROUP BY label
    """


@register(
    "v4_ivf_probe_search",
    "IVF probe search: assign each query vector to its nearest coarse "
    "centroid (cosine, nprobe=1), then exact top-3 within that cell only "
    "-- the candidate-pruning scale path over the v3 index build.",
    f"""
    WITH centroids AS ({_centroids_sql()}),
    q AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 5
    ),
    assign AS (
      SELECT vec_id, label FROM (
        SELECT q.vec_id, c.label,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {V.cosine_sql('q.v', 'c.cvec')} DESC, c.label ASC
               ) AS rn
        FROM q CROSS JOIN centroids c
      ) WHERE rn = 1
    )
    SELECT q.vec_id AS query_id, assign.label AS probed_label,
           cand.vec_id AS neighbor_id,
           round({V.cosine_sql('q.v', 'cand.embedding::DOUBLE[]')}, 6) AS cos_sim
    FROM q
    JOIN assign ON q.vec_id = assign.vec_id
    JOIN embeddings cand
      ON cand.label = assign.label AND cand.vec_id <> q.vec_id
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY round({V.cosine_sql('q.v', 'cand.embedding::DOUBLE[]')}, 6) DESC,
               cand.vec_id ASC) <= 3
    """,
    tags=("vector", "ivf", "topk"),
)
def q_ivf_probe_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    # Index build: per-label centroids (tiny: |labels| rows), ordered by
    # dimension via sort-by-struct so collect_list order is defined.
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", F.col("pos").alias("idx"), F.col("col").alias("val"))
    centroids = (
        exploded.groupBy("label", "idx")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
    )
    q = emb.filter(F.col("vec_id") < 5).select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    # nprobe=1 assignment: centroids are tiny -> broadcast cross join,
    # argmin by window (label tiebreak for determinism).
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("c_sim"), F.asc("label")
    )
    assign = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("c_sim", V.cosine("v", "cvec", dim=EMBED_DIM))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("label").alias("probed_label"), "v")
    )
    # Probe: scan ONLY the assigned cell (join on label prunes the
    # candidate set; at scale the cell is a partition of the index).
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        V.as_double(F.col("embedding")).alias("cv"),
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        assign.join(
            cand,
            (cand["label"] == assign["probed_label"])
            & (cand["neighbor_id"] != assign["vec_id"]),
        )
        .select(
            F.col("vec_id").alias("query_id"),
            "probed_label",
            "neighbor_id",
            F.round(V.cosine("v", "cv", dim=EMBED_DIM), 6).alias(
                "cos_sim"
            ),
        )
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


def _kmeans_probe_sql() -> str:
    """v5 oracle: one Lloyd iteration over the v3 seed centroids, then
    an nprobe=2 probe against the REFINED centroids, candidates drawn
    from the refined assignment."""
    return f"""
    WITH c0 AS (SELECT label AS cluster, cvec FROM ({_centroids_sql()})),
    vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign1 AS (
      SELECT vec_id, cluster, v FROM (
        SELECT vecs.vec_id, c0.cluster, vecs.v,
               row_number() OVER (
                 PARTITION BY vecs.vec_id
                 ORDER BY {V.cosine_sql('vecs.v', 'c0.cvec')} DESC,
                          c0.cluster ASC) AS rn
        FROM vecs CROSS JOIN c0
      ) WHERE rn = 1
    ),
    c1 AS (
      SELECT cluster, list(cv ORDER BY idx) AS cvec FROM (
        SELECT cluster, idx, round(avg(val), 6) AS cv FROM (
          SELECT cluster,
                 CAST(generate_subscripts(v, 1) AS BIGINT) AS idx,
                 unnest(v)::DOUBLE AS val
          FROM assign1
        ) GROUP BY cluster, idx
      ) GROUP BY cluster
    ),
    probes AS (
      SELECT query_id, qv, cluster FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, c1.cluster,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {V.cosine_sql('q.v', 'c1.cvec')} DESC,
                          c1.cluster ASC) AS rn
        FROM (SELECT vec_id, embedding::DOUBLE[] AS v
              FROM embeddings WHERE vec_id < 5) q
        CROSS JOIN c1
      ) WHERE rn <= 2
    )
    SELECT p.query_id, p.cluster AS neighbor_cluster, a.vec_id AS neighbor_id,
           round({V.cosine_sql('p.qv', 'a.v')}, 6) AS cos_sim
    FROM probes p
    JOIN assign1 a ON a.cluster = p.cluster AND a.vec_id <> p.query_id
    QUALIFY row_number() OVER (
      PARTITION BY p.query_id
      ORDER BY round({V.cosine_sql('p.qv', 'a.v')}, 6) DESC, a.vec_id ASC) <= 3
    """


def _centroid_agg(df: DataFrame, key: str) -> DataFrame:
    """Per-key per-dimension mean -> ordered centroid vector (round 6 so
    both engines carry identical doubles)."""
    exploded = df.select(key, F.posexplode("v")).select(
        key, F.col("pos").alias("idx"), F.col("col").alias("val")
    )
    return (
        exploded.groupBy(key, "idx")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy(key)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
    )


@register(
    "v5_ivf_kmeans_probe",
    "IVF with one Lloyd refinement + nprobe=2: re-assign every vector to "
    "its nearest v3 seed centroid (cosine), recompute centroids from the "
    "new assignment, then probe the TWO nearest refined cells per query "
    "for the exact top-3 -- the index is a real k-means step, not a "
    "one-shot label average.",
    _kmeans_probe_sql(),
    tags=("vector", "ivf", "topk"),
)
def q_ivf_kmeans_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "label", V.as_double(F.col("embedding")).alias("v")
    )
    # Seed centroids (the v3 build), keyed as cluster ids.
    c0 = _centroid_agg(
        vecs.select(F.col("label").alias("cluster"), "v"), "cluster"
    )
    # One Lloyd iteration: nearest-centroid assignment of EVERY vector.
    # Centroids are tiny (|labels| rows) -> broadcast cross join; argmax
    # via max_by over a (sim, -cluster) ordering struct -- a hash
    # aggregation with map-side partial combine, versus the previous
    # ranking window which SORTED all |vectors| x |centroids| rows
    # (this stage touches every vector; the tiny per-query windows
    # below stay windows).  -cluster encodes the deterministic
    # smallest-cluster tiebreak inside the max.  Locally a wash (v5's
    # wall at small SF is planning/codegen of the unrolled cosine
    # chains, ~3.6s of a 3.8s run); at scale the partial combine
    # collapses the crossJoin stream to |vectors| rows BEFORE the
    # shuffle, where the window shuffled and sorted every row.
    # Norms hoisted: each side's |x| is computed ONCE per row/centroid
    # in its own projection, so every cosine site below is a single
    # unrolled dot chain instead of three -- ~3x smaller expression
    # trees (the planning cost that dominates v5's small-SF wall) and
    # no per-pair norm recomputation at runtime.  Same operations in
    # the same IEEE order, so results are bit-identical to the oracle.
    vecs_n = vecs.withColumn("nv", V.norm("v", dim=EMBED_DIM))
    c0_n = c0.withColumn("ncv", V.norm("cvec", dim=EMBED_DIM))
    assign1 = (
        vecs_n.crossJoin(F.broadcast(c0_n))
        .withColumn(
            "a_sim",
            V.dot("v", "cvec", dim=EMBED_DIM)
            / (F.col("nv") * F.col("ncv")),
        )
        .groupBy("vec_id")
        .agg(
            F.max_by(
                "cluster",
                F.struct(
                    F.col("a_sim").alias("s"), (-F.col("cluster")).alias("nc")
                ),
            ).alias("cluster"),
            F.first("v").alias("v"),
        )
    )
    # Refined centroids from the new assignment.
    c1 = _centroid_agg(assign1.select("cluster", "v"), "cluster")
    # nprobe=2: the two nearest refined cells per query.
    q = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("p_sim"), F.asc("cluster")
    )
    q_n = q.withColumn("nq", V.norm("qv", dim=EMBED_DIM))
    c1_n = c1.withColumn("ncv", V.norm("cvec", dim=EMBED_DIM))
    probes = (
        q_n.crossJoin(F.broadcast(c1_n))
        .withColumn(
            "p_sim",
            V.dot("qv", "cvec", dim=EMBED_DIM)
            / (F.col("nq") * F.col("ncv")),
        )
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("query_id", "qv", "nq", "cluster")
    )
    # Probe: candidates ONLY from the two assigned cells (the join on
    # cluster prunes; at scale each cell is a partition of the index).
    cand = assign1.select(
        F.col("vec_id").alias("neighbor_id"), "cluster", F.col("v").alias("cv2")
    ).withColumn("nc2", V.norm("cv2", dim=EMBED_DIM))
    w_top = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    # probes is |queries| x nprobe rows -- broadcast it so the probe is
    # a map-side hash join against the (large, partitioned) index side,
    # not a sort-merge shuffle of the index.
    return (
        cand.join(F.broadcast(probes), "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("cluster").alias("neighbor_cluster"),
            "neighbor_id",
            F.round(
                V.dot("qv", "cv2", dim=EMBED_DIM)
                / (F.col("nq") * F.col("nc2")),
                6,
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "v6_int8_quantization",
    "Symmetric per-vector int8 quantization of the embedding column "
    "(the index-prep compression step an ANN/vector store runs before "
    "building IVF/HNSW shards: 4x smaller vectors, per-vector scale "
    "kept for dequantization).  scale = max|x| / 127; q[d] = "
    "round(x[d] / scale); integer audit columns are oracle-gated, the "
    "float reconstruction bound is property-tested (engine round-half "
    "semantics differ).  Pure narrow expressions -- one scan, no "
    "shuffle, no UDF.",
    """
    SELECT vec_id,
           round(scale, 9) AS scale,
           CAST(list_sum(list_transform(v, x ->
               CAST(round(x / scale) AS BIGINT))) AS BIGINT) AS q_sum,
           CAST(list_max(list_transform(v, x ->
               abs(CAST(round(x / scale) AS BIGINT)))) AS BIGINT) AS q_max_abs
    FROM (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
    )
    """,
    tags=("vector", "quantization"),
)
def q_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", V.as_double(F.col("embedding")).alias("v")
    )
    # max|x| via the same fold shape both engines evaluate exactly
    # (abs/max over doubles is order-insensitive), then quantize with
    # HOF transforms: this op is per-row array math over the full
    # 64-wide array, where a transform is ONE expression regardless of
    # dim -- the interpreted-HOF cost loses to expression-tree size
    # only for scalar reductions like dot (see functions/vectors.py).
    scaled = emb.withColumn(
        "scale",
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(127.0),
    )
    q = F.transform(
        F.col("v"), lambda x: F.round(x / F.col("scale")).cast("long")
    )
    # The oracle gate covers the integer outputs (scale, q_sum,
    # q_max_abs), which match bit-for-bit.  The float reconstruction
    # bound is NOT cross-engine-comparable: Spark rounds on the
    # decimal rendering of the double where DuckDB rounds the binary
    # value, so near-half ratios pick different max-err elements
    # (observed 5e-6 disagreements).  The bound |x - q*scale| <=
    # scale/2 is pinned as a property in tests/test_vectors_quant.py
    # instead.
    return scaled.select(
        "vec_id",
        F.round(F.col("scale"), 9).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_max(F.transform(q, lambda x: F.abs(x))).alias("q_max_abs"),
    )


# --- v7: the production-width ANN path, oracle-gated. ---------------
# The embeddings table ships 64-wide; production embedding models emit
# 768-4096.  To put the >128-dim Arrow kernels (functions/vectors.py
# _wide: einsum over stacked Arrow batches) under the SAME DuckDB
# oracle as the narrow path, both engines deterministically widen each
# vector to 768 dims in-query: tile the 64 components 12x, scaling
# position i by (1 + i/1024).  i/1024 is an exact binary scale and
# float->double casts are exact, so the widened inputs are
# bit-identical across engines; only the dot-product ACCUMULATION
# differs (einsum/BLAS pairwise vs sequential fold), which round(...,6)
# absorbs (ulp-scale: |cos| <= 1, disagreement ~1e-15).
WIDE_DIM = 768


def _widen_spark() -> F.Column:
    # One codegen'd HOF per row builds the 768-wide double array from
    # the scanned 64-wide floats; construction is O(dim) per row ONCE,
    # then all pairwise math runs in the Arrow kernels.
    return F.expr(
        f"transform(sequence(0, {WIDE_DIM - 1}), "
        f"i -> CAST(embedding[i % {EMBED_DIM}] AS DOUBLE)"
        f" * (1.0D + CAST(i AS DOUBLE) / 1024.0D))"
    )


_WIDEN_SQL = (
    f"list_transform(range(0, {WIDE_DIM}), "
    f"i -> embedding[(i % {EMBED_DIM}) + 1]::DOUBLE * (1.0 + i / 1024.0))"
)


@register(
    "v7_wide_ann_topk",
    "Brute-force cosine top-3 at production width (768 dims): the "
    ">UNROLL_MAX_DIM Arrow einsum kernels under the oracle; vectors "
    "widened 64->768 deterministically in-query (exact in both "
    "engines), fused cosine kernel per candidate batch.",
    f"""
    WITH wide AS (
      SELECT vec_id, {_WIDEN_SQL} AS v FROM embeddings
    )
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round({V.cosine_sql('q.v', 'c.v')}, 6) AS cos_sim
    FROM wide q JOIN wide c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < 5
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY round({V.cosine_sql('q.v', 'c.v')}, 6) DESC,
               c.vec_id ASC) <= 3
    """,
    tags=("vector", "topk", "wide"),
)
def q_wide_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread BEFORE widening (r18, guide §2.3 "project before the
    # exchange" applied in reverse to an EXPANDING projection): the
    # 64->768 widen is an interpreted higher-order transform, and with
    # widen-then-spread it ran serially on the scan's single input
    # split AND the exchange carried the widened vectors (10.7 MB
    # shuffle written by one 300 ms task at sf0.1).  Spread-then-widen
    # moves the transform behind the exchange (all cores) and ships
    # only the narrow source embedding.
    #
    # PAIR-SHIPPING restructure (r19, VERDICT r18 next #2; guide
    # §4.1/§4.2): the r18 form BroadcastNestedLoopJoined the 5 query
    # rows, so every candidate x query output row carried BOTH
    # 768-wide double vectors into the cosine UDF -- 5 x 2 x 768
    # doubles (~61 KB) per candidate across the Arrow boundary.  Now
    # the 5 widened query vectors collect to the driver once and ONE
    # mapInPandas over the candidates scores all 5 queries per batch:
    # 768 doubles (~6 KB) per candidate cross once, ~10x less
    # transfer.  Measured same-JVM at sf1 (where the transfer
    # dominates): 2.001 s -> 0.675 s min-of-4, 2.96x
    # (OPTIMIZATION_r19.md); top-k hashes bit-identical at
    # sf0.001/0.01/0.1/sf1.  Numeric identity, not just closeness:
    # the kernel runs the SAME einsum signature ("ij,ij->i") over the
    # same float64 rows -- the query side a broadcast_to view, an
    # elementwise row-dot in both forms -- and rounding stays in
    # Spark (F.round, HALF_UP), so no round(.,6) re-roll vs the
    # oracle (the r18 concern that deferred this).
    base = _t(spark, sf_dir, "embeddings")
    qrows = sorted(
        base.filter(F.col("vec_id") < 5)
        .select("vec_id", _widen_spark().alias("v"))
        .collect(),
        key=lambda r: r["vec_id"],
    )
    qids = [int(r["vec_id"]) for r in qrows]
    qvecs = [list(r["v"]) for r in qrows]
    cand = _spread(base).select("vec_id", _widen_spark().alias("v"))

    def score(batches):
        import numpy as np
        import pandas as pd

        Q = [np.asarray(v, dtype=np.float64) for v in qvecs]  # per task
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.stack(pdf["v"].to_numpy())
            ids = pdf["vec_id"].to_numpy()
            parts = []
            for qid, qv in zip(qids, Q):
                B = np.broadcast_to(qv, C.shape)
                num = np.einsum("ij,ij->i", C, B)
                na = np.sqrt(np.einsum("ij,ij->i", C, C))
                nb = np.sqrt(np.einsum("ij,ij->i", B, B))
                cos = num / (na * nb)
                m = ids != qid
                parts.append(pd.DataFrame({
                    "query_id": np.full(
                        int(m.sum()), qid, dtype=np.int64
                    ),
                    "neighbor_id": ids[m].astype(np.int64),
                    "cos_sim": cos[m],
                }))
            yield pd.concat(parts, ignore_index=True)

    sims = cand.mapInPandas(
        score, "query_id long, neighbor_id long, cos_sim double"
    ).select(
        "query_id", "neighbor_id", F.round("cos_sim", 6).alias("cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


@register(
    "v8_wide_ivf_probe",
    "IVF probe search at production width (768 dims): centroid build, "
    "nprobe=1 assignment, and in-cell top-3 all through the wide Arrow "
    "kernels -- v7 proves the wide brute-force baseline, this proves "
    "the candidate-PRUNING scale path wide (at 100 TB the probe scans "
    "one cell partition, not the corpus).",
    f"""
    WITH wide AS (
      SELECT vec_id, label, {_WIDEN_SQL} AS v FROM embeddings
    ),
    centroids AS (
      SELECT label, list(cv ORDER BY idx) AS cvec
      FROM (
        SELECT label, idx, round(avg(val), 6) AS cv
        FROM (
          SELECT label,
                 CAST(generate_subscripts(v, 1) AS BIGINT) AS idx,
                 unnest(v) AS val
          FROM wide
        )
        GROUP BY label, idx
      )
      GROUP BY label
    ),
    q AS (SELECT vec_id, v FROM wide WHERE vec_id < 5),
    assign AS (
      SELECT vec_id, label FROM (
        SELECT q.vec_id, c.label,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({V.cosine_sql('q.v', 'c.cvec')}, 6) DESC,
                          c.label ASC
               ) AS rn
        FROM q CROSS JOIN centroids c
      ) WHERE rn = 1
    )
    SELECT q.vec_id AS query_id, assign.label AS probed_label,
           cand.vec_id AS neighbor_id,
           round({V.cosine_sql('q.v', 'cand.v')}, 6) AS cos_sim
    FROM q
    JOIN assign ON q.vec_id = assign.vec_id
    JOIN wide cand
      ON cand.label = assign.label AND cand.vec_id <> q.vec_id
    QUALIFY row_number() OVER (
      PARTITION BY q.vec_id
      ORDER BY round({V.cosine_sql('q.v', 'cand.v')}, 6) DESC,
               cand.vec_id ASC) <= 3
    """,
    tags=("vector", "ivf", "topk", "wide"),
)
def q_wide_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same plan skeleton as v4 with every vector 768-wide and every
    cosine routed through the fused Arrow kernel (dim=WIDE_DIM >
    UNROLL_MAX_DIM).  The centroid ASSIGNMENT round(.,6)s the
    centroid-side cosine before the argmin window in BOTH engines:
    centroid components are averages (already rounded to 6), but the
    cosine accumulation order still differs einsum-vs-fold, and an
    unrounded argmin could flip on a near-tie ulp."""
    w_top = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        wide_ivf_candidates(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= 3)
        .drop("rn")
    )


def wide_ivf_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v8's scored candidate frame BEFORE the per-query top-k window --
    factored out so the bench can record the probe's pruning power
    (rows scored / corpus) next to its wall time."""
    # Spread before the interpreted widen (r18) -- see q_wide_ann_topk.
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    wide = emb.select("vec_id", "label", _widen_spark().alias("v"))
    exploded = wide.select("label", F.posexplode("v")).select(
        "label", F.col("pos").alias("idx"), F.col("col").alias("val")
    )
    centroids = (
        exploded.groupBy("label", "idx")
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
    )
    q = wide.filter(F.col("vec_id") < 5).select("vec_id", "v")
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("c_sim"), F.asc("label"))
    assign = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("c_sim", F.round(V.cosine("v", "cvec", dim=WIDE_DIM), 6))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("label").alias("probed_label"), "v")
    )
    cand = wide.select(
        F.col("vec_id").alias("neighbor_id"), "label", F.col("v").alias("cv")
    )
    return assign.join(
        cand,
        (cand["label"] == assign["probed_label"])
        & (cand["neighbor_id"] != assign["vec_id"]),
    ).select(
        F.col("vec_id").alias("query_id"),
        "probed_label",
        "neighbor_id",
        F.round(V.cosine("v", "cv", dim=WIDE_DIM), 6).alias("cos_sim"),
    )


def v8_probe_stats(spark: SparkSession, sf_dir: str) -> dict:
    """Pruning evidence for the bench: how many rows v8's probe
    actually scores vs the brute-force corpus (v7 scores
    queries x corpus)."""
    n_cand = wide_ivf_candidates(spark, sf_dir).count()
    corpus = _t(spark, sf_dir, "embeddings").count()
    n_q = 5
    brute = n_q * (corpus - 1)
    return {
        "v8_rows_scored": n_cand,
        "v8_bruteforce_rows": brute,
        "v8_candidate_fraction": round(n_cand / max(brute, 1), 4),
    }


# --- v9: product quantization (Jegou et al. 2011, public). ----------
_PQ_S = 8  # subspaces (64 dims -> 8 subvectors of 8)
_PQ_C = 16  # codes per subspace
_PQ_SCALE = 1048576  # 2^20: float -> exact integer grid (floor)
_PQ_QUERY_ID = 42  # fixed ADC query vector


@register(
    "v9_pq_encode_adc",
    "Product quantization: every vector is compressed to 8 four-bit "
    "codes (one per 8-dim subvector, nearest of 16 codebook entries "
    "anchored on vec_id<16), then ranked against a fixed query by "
    "ASYMMETRIC DISTANCE -- summing 8 precomputed (subspace, code) "
    "query distances with NO access to the original vectors.  All "
    "distances are exact integer arithmetic on a floor(x * 2^20) "
    "grid, so codebook assignment (ties -> smallest code) and every "
    "ADC score are pinned bit-for-bit across engines.",
    f"""
    WITH emb AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x ->
               CAST(floor(x * {_PQ_SCALE}.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    anchors AS (
      SELECT vec_id AS c, iv AS av FROM emb WHERE vec_id < {_PQ_C}
    ),
    qv AS (SELECT iv AS qv FROM emb WHERE vec_id = {_PQ_QUERY_ID}),
    pairs AS (
      SELECT e.vec_id, a.c, ss.s,
             CAST(list_sum(list_transform(range(8), i ->
               (e.iv[ss.s * 8 + i + 1] - a.av[ss.s * 8 + i + 1])
               * (e.iv[ss.s * 8 + i + 1] - a.av[ss.s * 8 + i + 1])))
               AS BIGINT) AS dist
      FROM emb e
      CROSS JOIN anchors a
      CROSS JOIN (SELECT unnest(range({_PQ_S})) AS s) ss
    ),
    mind AS (
      SELECT vec_id, s, min(dist) AS md FROM pairs GROUP BY 1, 2
    ),
    codes AS (
      SELECT p.vec_id, p.s, min(p.c) AS code
      FROM pairs p
      JOIN mind m ON p.vec_id = m.vec_id AND p.s = m.s AND p.dist = m.md
      GROUP BY 1, 2
    ),
    adc_tab AS (
      SELECT a.c, ss.s,
             CAST(list_sum(list_transform(range(8), i ->
               (q.qv[ss.s * 8 + i + 1] - a.av[ss.s * 8 + i + 1])
               * (q.qv[ss.s * 8 + i + 1] - a.av[ss.s * 8 + i + 1])))
               AS BIGINT) AS qdist
      FROM qv q
      CROSS JOIN anchors a
      CROSS JOIN (SELECT unnest(range({_PQ_S})) AS s) ss
    )
    SELECT c.vec_id,
           array_to_string(list(CAST(c.code AS VARCHAR) ORDER BY c.s), '|')
             AS code_str,
           CAST(sum(t.qdist) AS BIGINT) AS adc_dist
    FROM codes c JOIN adc_tab t ON t.s = c.s AND t.c = c.code
    GROUP BY c.vec_id
    """,
    tags=("vector", "quantization", "search"),
)
def q_pq_encode_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape IS the operator: the codebook (128 subvectors)
    broadcasts everywhere, encoding is a narrow map over the corpus
    (16x fanout against the BROADCAST anchors, collapsed by the
    min-struct partial agg before any exchange), and query-time
    scoring touches only the 8-byte code rows plus a 128-entry lookup
    table -- the original 256-byte vectors never move.  That 32x scan
    reduction is why PQ is the memory-resident scale path past IVF
    (v4/v8) when the corpus outgrows raw-vector RAM.  Integer-grid
    distances (floor to a 2^20 lattice; float->double is exact) kill
    cross-engine float-fold nondeterminism in the argmin; the <0.5%
    grid rounding is irrelevant to assignment quality and pytest pins
    the reconstruction story separately."""
    emb = _spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {_PQ_SCALE}.0D) AS BIGINT))"
        ).alias("iv"),
    )
    anchors = emb.filter(F.col("vec_id") < _PQ_C).select(
        F.col("vec_id").alias("c"), F.col("iv").alias("av")
    )
    # Spark arrays are 0-indexed (the oracle's list math is 1-indexed).
    dists8 = (
        f"transform(sequence(0, {_PQ_S - 1}), s -> "
        f"aggregate(sequence(0, 7), 0L, (acc, i) -> "
        f"acc + (iv[s * 8 + i] - av[s * 8 + i])"
        f" * (iv[s * 8 + i] - av[s * 8 + i])))"
    )
    pairs = (
        emb.crossJoin(F.broadcast(anchors))
        .select(
            "vec_id",
            "c",
            F.posexplode(F.expr(dists8)).alias("s", "dist"),
        )
    )
    codes = pairs.groupBy("vec_id", "s").agg(
        F.min(F.struct("dist", "c")).getField("c").alias("code")
    )
    qv = emb.filter(F.col("vec_id") == _PQ_QUERY_ID).select("iv")
    adc_tab = (
        qv.crossJoin(F.broadcast(anchors))
        .select("c", F.posexplode(F.expr(dists8)).alias("s", "qdist"))
    )
    return (
        codes.join(F.broadcast(adc_tab), (codes["s"] == adc_tab["s"]) & (codes["code"] == adc_tab["c"]))
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(codes["s"], "code"))),
                    lambda x: x.getField("code").cast("string"),
                ),
                "|",
            ).alias("code_str"),
            F.sum("qdist").cast("bigint").alias("adc_dist"),
        )
    )


# --- v10: IVF coarse-quantizer TRAINING (Lloyd's k-means). -----------
# v2/v8 probe IVF cells built from the shipped label column; this is
# the step that PRODUCES such cells (Lloyd 1982; the k-means step of
# Jegou et al. 2011's IVFADC).  Cross-engine-exact by integer
# arithmetic: vectors land as floor(x*1000) BIGINTs, distances are
# integer squared-L2, centroid updates floor-divide -- every engine
# computes identical integers, so the gate needs no float tolerance.
KMEANS_K = 8
KMEANS_ITERS = 2


def _kmeans_dist(v_col: str, cent: list[int]) -> F.Column:
    """Integer squared-L2 between an array<long> column and a literal
    centroid as a zip_with/aggregate fold.  Measured 5x faster than
    expanding to 64 explicit terms per centroid here: with K=8
    centroids the expanded tree is 512 getItem+multiply nodes and
    falls out of whole-stage codegen, while the fold stays one
    expression per centroid (the inverse of the column-column dot
    trade-off noted in functions/vectors.py)."""
    lit = F.array(*[F.lit(int(x)).cast("bigint") for x in cent])
    return F.aggregate(
        F.zip_with(F.col(v_col), lit, lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _kmeans_argmin(v_col: str, cents: list[list[int]]) -> F.Column:
    """(dist, cid) of the nearest literal centroid -- array_min over K
    structs keeps the tie-break (smallest cid) in struct order, all
    inside whole-stage codegen: assignment costs ZERO shuffle."""
    return F.array_min(
        F.array(
            *[
                F.struct(
                    _kmeans_dist(v_col, c).alias("dist"),
                    F.lit(k).cast("bigint").alias("cid"),
                )
                for k, c in enumerate(cents)
            ]
        )
    )


# Literal-argmin plan size grows O(K*dim) expression nodes -- fine at
# coarse-quantizer K=8, plan-size/codegen-bounded well before the
# K=4096+ a production IVF trains.  The broadcast-centroid assignment
# (centroids ride as ONE broadcast row holding an array<struct<cid,v>>,
# argmin is a transform+array_min over it) has a plan O(1) in K with
# identical per-row work -- and the A/B (PERF.md round-14 addendum)
# found NO crossover: broadcast wins at
# EVERY measured K (sf0.1 full train tmean, literal vs broadcast:
# K=8 3.5s vs 1.2s, K=64 23.6s vs 1.3s, K=512 155s vs 2.4s), because
# the literal plan's K*dim expression nodes cost analyzer/codegen time
# on every Lloyd iteration -- 2.0s of pure analysis at K=8 already,
# 11s at K=64.  So the DEFAULT strategy is broadcast at any K; the
# literal trainer stays opt-in as the zero-join plan v10 pins for the
# registered contrast (and the bound below documents where its plan
# would stop being viable at all).
KMEANS_LITERAL_MAX_K = 16
KMEANS_BROADCAST_K = 64  # v11's K: exercises the broadcast path


def _kmeans_oracle_sql(k: int, dim: int = EMBED_DIM) -> str:
    """DuckDB oracle for 2-iteration integer-exact Lloyd k-means,
    parameterized by K (v10 at K=8, v11 at K=64).  The c1 CTE mirrors
    the engine's dead-cluster guard: a cluster that loses every member
    in iteration 1 KEEPS its seed centroid (LEFT JOIN from c0,
    coalesce) -- without this, the engines would diverge exactly when
    the guard fires (unreachable for this seed/data, but the oracle
    must encode the same semantics, not a lucky subset)."""
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(floor(x::DOUBLE * 1000.0) AS BIGINT)) AS v
      FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, v
      FROM q ORDER BY vec_id LIMIT {k}
    ),
    d1 AS (
      SELECT q.vec_id, c0.cid,
             list_sum(list_transform(range(1, {dim + 1}),
                      i -> (q.v[i] - c0.v[i]) * (q.v[i] - c0.v[i]))) AS dist
      FROM q, c0
    ),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    g1 AS (
      SELECT cid, list(cd ORDER BY d) AS v FROM (
        SELECT a1.cid, t.d,
               CAST(floor(sum(q.v[t.d])::DOUBLE / count(*)) AS BIGINT) AS cd
        FROM a1 JOIN q USING (vec_id),
             UNNEST(range(1, {dim + 1})) AS t(d)
        GROUP BY a1.cid, t.d)
      GROUP BY cid
    ),
    c1 AS (
      SELECT c0.cid, coalesce(g1.v, c0.v) AS v
      FROM c0 LEFT JOIN g1 ON c0.cid = g1.cid
    ),
    d2 AS (
      SELECT q.vec_id, c1.cid,
             list_sum(list_transform(range(1, {dim + 1}),
                      i -> (q.v[i] - c1.v[i]) * (q.v[i] - c1.v[i]))) AS dist
      FROM q, c1
    ),
    a2 AS (
      SELECT vec_id, cid, dist FROM (
        SELECT vec_id, cid, dist,
               row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
        FROM d2) WHERE rn = 1
    )
    SELECT cid AS cluster_id,
           CAST(count(*) AS BIGINT) AS size,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id,
           CAST(sum(dist) AS BIGINT) AS inertia
    FROM a2 GROUP BY cid
    """


def _integerized_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embeddings as (vec_id, v: array<bigint>) -- floor(x*1000), the
    cross-engine-exact integerization every k-means query trains on.
    Deliberately NOT checkpointed: the plan is re-executed per Lloyd
    job (init + one per iteration), but each execution is a
    column-pruned parquet scan + narrow transform -- at corpus scale
    three cheap scans beat materializing the integerized vectors to
    executor disk."""
    return _spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> "
            "CAST(floor(CAST(x AS DOUBLE) * 1000.0D) AS BIGINT))"
        ).alias("v"),
    )


def _kmeans_summary(final: DataFrame) -> DataFrame:
    """Per-cluster (size, min member, integer inertia) from a frame
    carrying the (dist, cid) argmin struct in column ``m``."""
    return final.groupBy(F.col("m.cid").alias("cluster_id")).agg(
        F.count(F.lit(1)).cast("long").alias("size"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
        F.sum(F.col("m.dist")).cast("long").alias("inertia"),
    )


def _kmeans_train_literal(emb: DataFrame, k: int, iters: int) -> DataFrame:
    """Lloyd training with centroids as PLAN LITERALS (K x dim ints via
    the driver, MLlib's own driver-roundtrip pattern): assignment is a
    zero-shuffle codegen'd argmin over the scan; the only exchange is
    the map-combined (cid, dim) partial-sum grid, K*dim rows per task
    regardless of corpus size.  Right at coarse K (the plan embeds
    K*dim literal nodes -- see KMEANS_LITERAL_MAX_K for where that
    stops scaling)."""
    import math

    # Seed: the K lowest vec_ids, in vec_id order (deterministic, the
    # k-means++ slot in a production trainer).
    seed_rows = emb.orderBy("vec_id").limit(k).collect()
    cents = [list(r["v"]) for r in seed_rows]
    dim = len(cents[0])
    for _ in range(iters - 1):
        # One job per Lloyd update: assign by literal-centroid argmin
        # (zero shuffle), then the (cid, d) sum/count grid -- K*dim
        # rows after map-side combine -- comes back to the driver where
        # the floor-divide matches the oracle's floor(sum/count) exactly
        # (IEEE double division of exact integers on both sides).
        assigned = emb.withColumn(
            "cid", _kmeans_argmin("v", cents).getField("cid")
        )
        grid = (
            assigned.select("cid", F.posexplode("v").alias("d", "vd"))
            .groupBy("cid", "d")
            .agg(F.sum("vd").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        by_cid: dict[int, dict[int, int]] = {}
        for r in grid:
            by_cid.setdefault(int(r["cid"]), {})[int(r["d"])] = int(
                math.floor(r["s"] / r["n"])
            )
        # A cluster that loses every member keeps its previous centroid
        # (can't happen with this seed/data; the oracle's c1 CTE
        # carries the SAME guard, so if it ever fires both engines
        # stay in lockstep).
        cents = [
            [by_cid[c][d] for d in range(dim)] if c in by_cid else cents[c]
            for c in range(k)
        ]
    final = emb.withColumn("m", _kmeans_argmin("v", cents))
    return _kmeans_summary(final)


def _kmeans_argmin_bcast() -> F.Column:
    """(dist, cid) of the nearest centroid from a BROADCAST ``cents``
    column (array<struct<cid,v>>, one row for the whole corpus):
    transform computes the zip_with integer squared-L2 fold per
    centroid, array_min keeps the (dist, cid)-lexicographic winner --
    smallest distance, then smallest cid, the same tie-break as the
    literal argmin and the oracle's row_number ORDER BY dist, cid."""
    return F.array_min(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("v"), c["v"], lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                c["cid"].alias("cid"),
            ),
        )
    )


def _kmeans_seed(emb: DataFrame, k: int) -> DataFrame:
    """K seed centroids (cid, v) from the K lowest vec_ids.  Seed cids
    via collect_list + posexplode, not a row_number window: the K seed
    rows collapse to one sorted array (struct order = vec_id order)
    and the explode position IS the cid -- same result, no
    global-window single-partition plan node."""
    return (
        emb.orderBy("vec_id")
        .limit(k)
        .agg(F.array_sort(F.collect_list(F.struct("vec_id", "v"))).alias("s"))
        .select(F.posexplode("s").alias("cid", "sv"))
        .select(F.col("cid").cast("bigint").alias("cid"), F.col("sv.v").alias("v"))
        .localCheckpoint(eager=True)
    )


def _kmeans_update(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd centroid update from an assigned (vec_id, v, cid)
    frame: the map-combined K*dim (cid, d) partial-sum grid, folded
    back into a K-row DataFrame DISTRIBUTED-side -- no driver
    roundtrip -- with the dead-cluster guard as a LEFT JOIN back to
    the previous centroids (coalesce keeps a dead cluster's centroid,
    mirroring the oracle's c1 CTE).  floor(sum/count): bigint/bigint
    is IEEE double division in both engines (exact for these
    magnitudes), floor of it is bit-identical -- the same contract
    the literal path's driver math.floor keeps.  The K-row result is
    localCheckpoint'ed: truncates what would otherwise be an
    exponentially nesting lineage across iterations."""
    grid = (
        assigned.select("cid", F.posexplode("v").alias("d", "vd"))
        .groupBy("cid", "d")
        .agg(
            F.floor(F.sum("vd") / F.count(F.lit(1)))
            .cast("bigint")
            .alias("cd")
        )
    )
    new = (
        grid.groupBy("cid")
        .agg(F.array_sort(F.collect_list(F.struct("d", "cd"))).alias("p"))
        .select("cid", F.transform("p", lambda x: x["cd"]).alias("v"))
    )
    return (
        cents.alias("prev")
        .join(new.alias("nw"), "cid", "left")
        .select(
            "cid",
            F.coalesce(F.col("nw.v"), F.col("prev.v")).alias("v"),
        )
        .localCheckpoint(eager=True)
    )


def _kmeans_train_broadcast(emb: DataFrame, k: int, iters: int) -> DataFrame:
    """Lloyd training with centroids as a BROADCAST one-row frame: the
    K-row (cid, v) centroid table collapses to a single
    array<struct<cid,v>> row that rides to every task via a broadcast
    cross join (K*dim ints of DATA, not plan nodes), so the plan stays
    O(1) in K -- no driver roundtrip anywhere, unlike the literal
    strategy (and unlike einsum's K-row metadata collect).  Assignment
    per row is transform+array_min over the broadcast array (still
    zero shuffle for the corpus); update/seed shared with the other
    strategies (:func:`_kmeans_seed`, :func:`_kmeans_update`).

    Scale note (r15 A/B, PERF.md): the PLAN is O(1) in K but the
    assignment ARITHMETIC is O(N*K*dim) interpreted per element by
    the zip_with/aggregate HOFs -- measured 828 s at K=4096 over 128k
    vectors.  Past K~512, dispatch to ``strategy='einsum'``
    (:func:`_kmeans_train_einsum`), which runs the identical integer
    math through BLAS."""

    def one_row(cdf: DataFrame) -> DataFrame:
        return cdf.agg(
            F.array_sort(F.collect_list(F.struct("cid", "v"))).alias("cents")
        )

    cents = _kmeans_seed(emb, k)
    for _ in range(iters - 1):
        assigned = (
            emb.crossJoin(F.broadcast(one_row(cents)))
            .withColumn("m", _kmeans_argmin_bcast())
            .select("vec_id", "v", F.col("m.cid").alias("cid"))
        )
        cents = _kmeans_update(assigned, cents)
    final = emb.crossJoin(F.broadcast(one_row(cents))).withColumn(
        "m", _kmeans_argmin_bcast()
    )
    return _kmeans_summary(final)


def _einsum_assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment as ONE Arrow-batched einsum kernel:
    the K-row centroid frame collects to the driver (K x dim ints --
    metadata-plane, same class as merge's key-envelope collects),
    ships as a Spark broadcast variable, and each Arrow batch scores
    N x K distances via the expansion ||x||^2 - 2 x.C^T + ||C||^2 in
    float64 BLAS.  EXACT by construction: components are
    floor(x*1000) integers (|v| < 2^26), so every product and the
    dim-64 sums stay below 2^53 -- float64 represents them exactly
    and the argmin compares the same integers the zip_with fold
    produces, bit for bit (pinned by the einsum==broadcast pytest).
    Ties break to the SMALLEST cid: centroids are ordered by cid and
    np.argmin keeps the first minimum -- the literal/broadcast/oracle
    tie rule.  Emits (vec_id, v, cid, dist)."""
    rows = cents.orderBy("cid").collect()
    cids = [int(r["cid"]) for r in rows]
    cvecs = [list(r["v"]) for r in rows]
    bc = emb.sparkSession.sparkContext.broadcast((cids, cvecs))

    def assign(batches):
        import numpy as np
        import pyarrow as pa

        cid_l, c_l = bc.value
        C = np.asarray(c_l, dtype=np.float64)
        cidv = np.asarray(cid_l, dtype=np.int64)
        C2 = (C * C).sum(axis=1)
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            v = b.column(b.schema.get_field_index("v"))
            flat = v.flatten().to_numpy(zero_copy_only=False)
            X = flat.astype(np.float64).reshape(n, -1)
            X2 = (X * X).sum(axis=1)
            D = X2[:, None] - 2.0 * (X @ C.T) + C2[None, :]
            j = D.argmin(axis=1)
            yield pa.record_batch(
                [
                    b.column(b.schema.get_field_index("vec_id")),
                    v,
                    pa.array(cidv[j]),
                    pa.array(D[np.arange(n), j].astype(np.int64)),
                ],
                names=["vec_id", "v", "cid", "dist"],
            )

    return emb.select("vec_id", "v").mapInArrow(
        assign, "vec_id bigint, v array<bigint>, cid bigint, dist bigint"
    )


def _kmeans_train_einsum(emb: DataFrame, k: int, iters: int) -> DataFrame:
    """Lloyd training with BLAS assignment (:func:`_einsum_assign`):
    the strategy for PRODUCTION coarse-quantizer K.  The broadcast
    strategy's plan is O(1) in K but its per-element HOF arithmetic
    is not -- the r15 A/B measured K=4096 x 128k vectors x 64 dims at
    828 s wall (33.5G multiply-adds through interpreted zip_with);
    the same integers through one dgemm per Arrow batch collapse that
    to seconds.  Seed, centroid update (map-combined K*dim grid,
    LEFT-JOIN dead-cluster guard), and tie rules are SHARED with the
    other strategies -- all three produce bit-identical output
    (pytest-pinned), so the dispatch is purely an execution-strategy
    choice.  Cost shape at 100 TB: one column-pruned corpus scan per
    iteration, zero corpus shuffle for assignment, K-row driver
    metadata per iteration, K*dim*tasks partial rows in the update
    shuffle."""
    cents = _kmeans_seed(emb, k)
    for _ in range(iters - 1):
        assigned = _einsum_assign(emb, cents).select("vec_id", "v", "cid")
        cents = _kmeans_update(assigned, cents)
    final = _einsum_assign(emb, cents).withColumn(
        "m", F.struct(F.col("dist").alias("dist"), F.col("cid").alias("cid"))
    )
    return _kmeans_summary(final)


def _kmeans_train(
    emb: DataFrame, k: int, iters: int, strategy: str | None = None
) -> DataFrame:
    """Dispatch Lloyd training: DEFAULT is broadcast centroids up to
    K=512 (the r14 A/B found no literal-wins regime: broadcast 2.9x
    faster at K=8 rising to 66x at K=512) and the BLAS einsum kernel
    above (the r15 A/B found the HOF arithmetic, not the plan, is
    what stops scaling: 828 s at K=4096 vs seconds through dgemm --
    PERF.md).  The literal-argmin trainer stays opt-in
    (``strategy='literal'``, viable only up to ~KMEANS_LITERAL_MAX_K)
    as the zero-join plan v10 registers for the contrast.  All three
    compute identical integers -- pinned by
    tests/test_vectors_quant.py."""
    if strategy is None:
        # Broadcast wins at every K the HOF arithmetic can carry; past
        # that the O(N*K*dim) per-element interpretation dominates and
        # the BLAS kernel takes over (r15 A/B: 828 s -> seconds at
        # K=4096).  Identical integers either way.
        strategy = "broadcast" if k <= 512 else "einsum"
    if strategy == "literal":
        return _kmeans_train_literal(emb, k, iters)
    if strategy == "broadcast":
        return _kmeans_train_broadcast(emb, k, iters)
    if strategy == "einsum":
        return _kmeans_train_einsum(emb, k, iters)
    raise ValueError(f"unknown k-means strategy {strategy!r}")


@register(
    "v10_kmeans_ivf_training",
    "IVF coarse-quantizer training: 2 fixed Lloyd iterations of "
    "k-means (K=8) over integerized embeddings (floor(x*1000) -- "
    "engine-exact), seeded with the K lowest vec_ids.  PINS the "
    "LITERAL strategy: centroids ride to executors as literals "
    "(K x 64 ints via the driver, MLlib's own pattern), so assignment "
    "is a zero-shuffle codegen'd argmin over the scan; the only "
    "exchange is the map-combined (cid, dim) partial-sum grid, K*64 "
    "rows per task regardless of corpus size.  Kept as the registered "
    "contrast to v11: the r14 A/B found broadcast faster at EVERY K "
    "(the K*dim plan nodes cost analysis each iteration), so the "
    "dispatcher now defaults to broadcast -- this query is the "
    "measured-slower zero-join twin, bit-identical output.  Output: "
    "per-cluster size, min member, and integer inertia.",
    _kmeans_oracle_sql(KMEANS_K),
    tags=("vector", "clustering"),
)
def q_kmeans_ivf_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _integerized_emb(spark, sf_dir)
    return _kmeans_train(emb, KMEANS_K, KMEANS_ITERS, strategy="literal")


@register(
    "v11_kmeans_broadcast_training",
    "The SAME Lloyd trainer at production-shaped K=64, exercising the "
    "BROADCAST-centroid strategy: the centroid table collapses to one "
    "broadcast array<struct<cid,v>> row (data, not plan nodes), "
    "assignment is transform+array_min over it (plan O(1) in K -- the "
    "literal plan embeds K*dim expression nodes and stops scaling "
    "near K~100s, A/B-measured in PERF.md), and the centroid update "
    "folds the map-combined (cid,d) grid back into a K-row frame "
    "distributed-side with a LEFT-JOIN dead-cluster guard -- no "
    "driver roundtrip anywhere, the shape that holds at IVF "
    "coarse-quantizer K=4096+.",
    _kmeans_oracle_sql(KMEANS_BROADCAST_K),
    tags=("vector", "clustering"),
)
def q_kmeans_broadcast_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _integerized_emb(spark, sf_dir)
    return _kmeans_train(emb, KMEANS_BROADCAST_K, KMEANS_ITERS)


@register(
    "v12_kmeans_einsum_training",
    "The SAME Lloyd trainer through the BLAS einsum assignment "
    "(strategy='einsum', the production-K path): each Arrow batch "
    "scores N x K squared-L2 distances as one float64 dgemm via the "
    "||x||^2 - 2 x.C^T + ||C||^2 expansion -- exact by construction "
    "(floor(x*1000) integers keep every term below 2^53) and "
    "bit-identical to the broadcast/literal strategies (same oracle "
    "as v11, same K=64; equality pytest-pinned).  The r15 A/B is the "
    "reason this path exists: the broadcast plan is O(1) in K but "
    "its zip_with arithmetic is interpreted per element -- 828 s at "
    "K=4096 x 128k vectors, vs seconds through dgemm -- so the "
    "dispatcher auto-switches to einsum above K=512.  Seed and "
    "centroid update (map-combined K*dim grid, LEFT-JOIN dead-"
    "cluster guard) are shared code with v11.",
    _kmeans_oracle_sql(KMEANS_BROADCAST_K),
    tags=("vector", "clustering"),
)
def q_kmeans_einsum_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _integerized_emb(spark, sf_dir)
    return _kmeans_train(
        emb, KMEANS_BROADCAST_K, KMEANS_ITERS, strategy="einsum"
    )


# --- v13: IVF-PQ combined search (FAISS's IVFADC production shape) ---
# v4/v8 prune candidates by IVF cell but score RAW vectors; v9 scores
# compressed PQ codes but over the WHOLE corpus.  Production ANN at
# 100 TB composes both: probe the nprobe nearest cells, then rank by
# asymmetric distance against the 4-byte code rows of just those
# cells -- the raw vectors never move at query time AND most cells are
# never touched.

_IVFPQ_NQ = 3  # query vectors (vec_id < 3)
_IVFPQ_NPROBE = 2
_IVFPQ_TOPK = 5


def _ivfpq_sql() -> str:
    """Oracle: v9's integer-grid codes (carrying each vector's cell
    label) + v4's centroid/cosine cell assignment at nprobe=2 + the
    per-query ADC table, scored only inside probed cells."""
    sub = f"(SELECT unnest(range({_PQ_S})) AS s)"
    d8 = (
        "CAST(list_sum(list_transform(range(8), i -> "
        "({x}[ss.s * 8 + i + 1] - a.av[ss.s * 8 + i + 1]) "
        "* ({x}[ss.s * 8 + i + 1] - a.av[ss.s * 8 + i + 1]))) AS BIGINT)"
    )
    return f"""
    WITH emb AS (
      SELECT vec_id, label,
             list_transform(embedding::DOUBLE[], x ->
               CAST(floor(x * {_PQ_SCALE}.0) AS BIGINT)) AS iv
      FROM embeddings
    ),
    anchors AS (SELECT vec_id AS c, iv AS av FROM emb WHERE vec_id < {_PQ_C}),
    pairs AS (
      SELECT e.vec_id, e.label, a.c, ss.s, {d8.format(x='e.iv')} AS dist
      FROM emb e CROSS JOIN anchors a CROSS JOIN {sub} ss
    ),
    mind AS (SELECT vec_id, s, min(dist) AS md FROM pairs GROUP BY 1, 2),
    codes AS (
      SELECT p.vec_id, p.label, p.s, min(p.c) AS code
      FROM pairs p
      JOIN mind m ON p.vec_id = m.vec_id AND p.s = m.s AND p.dist = m.md
      GROUP BY p.vec_id, p.label, p.s
    ),
    centroids AS ({_centroids_sql()}),
    q AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x ->
               CAST(floor(x * {_PQ_SCALE}.0) AS BIGINT)) AS iv
      FROM embeddings WHERE vec_id < {_IVFPQ_NQ}
    ),
    probes AS (
      SELECT vec_id AS query_id, label FROM (
        SELECT q.vec_id, c.label,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {V.cosine_sql('q.v', 'c.cvec')} DESC, c.label ASC
               ) AS rn
        FROM q CROSS JOIN centroids c
      ) WHERE rn <= {_IVFPQ_NPROBE}
    ),
    adc_tab AS (
      SELECT q.vec_id AS query_id, a.c, ss.s, {d8.format(x='q.iv')} AS qdist
      FROM q CROSS JOIN anchors a CROSS JOIN {sub} ss
    )
    SELECT query_id, neighbor_id, adc_dist FROM (
      SELECT p.query_id, c.vec_id AS neighbor_id,
             CAST(sum(t.qdist) AS BIGINT) AS adc_dist
      FROM codes c
      JOIN probes p ON p.label = c.label AND c.vec_id <> p.query_id
      JOIN adc_tab t
        ON t.query_id = p.query_id AND t.s = c.s AND t.c = c.code
      GROUP BY p.query_id, c.vec_id
    )
    QUALIFY row_number() OVER (
      PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
    ) <= {_IVFPQ_TOPK}
    """


@register(
    "v13_ivf_pq_search",
    "IVF-PQ combined search (the IVFADC shape production ANN engines "
    "run): each query probes its nprobe=2 nearest IVF cells (cosine "
    "against the per-label centroids, v4's assignment), then ranks "
    "ONLY those cells' vectors by asymmetric distance over their "
    "8x4-bit PQ codes (v9's integer-grid codebook) -- top-5 by "
    "exact-integer ADC.  The two prunings compose: the cell probe "
    "touches nprobe/|cells| of the corpus and the ADC scoring reads "
    "4-byte code rows plus a broadcast 128-entry lookup table instead "
    "of 256-byte raw vectors, which is how a trillion-vector index "
    "answers queries from RAM.  Codebook, centroids, probe map, and "
    "per-query ADC tables are all broadcast one-row/tiny frames; the "
    "only corpus-sized work is the code build (one map-combined "
    "min-struct agg, the stored index at steady state) and the probed "
    "cells' code scan.  All distances exact integer arithmetic on the "
    "floor(x*2^20) grid -- assignment ties and ADC scores pinned "
    "bit-for-bit across engines.",
    _ivfpq_sql(),
    tags=("vector", "ivf", "quantization", "search", "topk"),
)
def q_ivf_pq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _spread(_t(spark, sf_dir, "embeddings")).select(
        "vec_id",
        "label",
        F.expr(
            f"transform(embedding, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {_PQ_SCALE}.0D) AS BIGINT))"
        ).alias("iv"),
        V.as_double(F.col("embedding")).alias("v"),
    )
    anchors = emb.filter(F.col("vec_id") < _PQ_C).select(
        F.col("vec_id").alias("c"), F.col("iv").alias("av")
    )
    dists8 = (
        f"transform(sequence(0, {_PQ_S - 1}), s -> "
        f"aggregate(sequence(0, 7), 0L, (acc, i) -> "
        f"acc + (iv[s * 8 + i] - av[s * 8 + i])"
        f" * (iv[s * 8 + i] - av[s * 8 + i])))"
    )
    # Index build (the stored state at steady state): per-(vector,
    # subspace) nearest codebook entry.  16x broadcast fanout collapsed
    # by the min-struct partial agg before any exchange -- v9's shape,
    # label carried for the cell-local probe below.
    codes = (
        emb.crossJoin(F.broadcast(anchors))
        .select(
            "vec_id", "label", "c",
            F.posexplode(F.expr(dists8)).alias("s", "dist"),
        )
        .groupBy("vec_id", "label", "s")
        .agg(F.min(F.struct("dist", "c")).getField("c").alias("code"))
    )
    centroids = _centroid_agg(emb.select("label", "v"), "label")
    q = emb.filter(F.col("vec_id") < _IVFPQ_NQ).select("vec_id", "v", "iv")
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("c_sim"), F.asc("label")
    )
    probes = (
        q.crossJoin(F.broadcast(centroids))
        .withColumn("c_sim", V.cosine("v", "cvec", dim=EMBED_DIM))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") <= _IVFPQ_NPROBE)
        .select(F.col("vec_id").alias("query_id"), "label")
    )
    # Per-query ADC lookup table: 3 x 16 x 8 rows, broadcast.
    adc_tab = (
        q.crossJoin(F.broadcast(anchors))
        .select(
            F.col("vec_id").alias("aq"),
            F.col("c").alias("ac"),
            F.posexplode(F.expr(dists8)).alias("as_", "qdist"),
        )
    )
    # Probe: the broadcast (query, label) map prunes the code scan to
    # the probed cells; scoring is 8 lookup-table additions per
    # surviving code row -- no raw vector is touched at query time.
    cand = codes.join(
        F.broadcast(probes),
        (codes["label"] == probes["label"])
        & (codes["vec_id"] != probes["query_id"]),
    ).select("query_id", F.col("vec_id").alias("neighbor_id"), "s", "code")
    scored = (
        cand.join(
            F.broadcast(adc_tab),
            (cand["query_id"] == adc_tab["aq"])
            & (cand["s"] == adc_tab["as_"])
            & (cand["code"] == adc_tab["ac"]),
        )
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("qdist").cast("bigint").alias("adc_dist"))
    )
    w_top = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _IVFPQ_TOPK)
        .drop("rn")
    )
