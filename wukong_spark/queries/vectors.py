"""Embedding similarity search over `embeddings` (SURVEY.md §2.3).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (random-hyperplane signs → bucket join) is the scale path — at
100 TB the candidate set per query comes from a bucket equi-join instead of
a cross join.

All vector math is JVM built-ins (`zip_with` + `aggregate`) over
array<double> — no Python UDF in the hot path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from wukong_spark.queries import query
from wukong_spark.queries.helpers import local_frame, r4, tbl
from wukong_spark.session import checkpoint, register_result_checkpoint

N_QUERY_VECS = 5  # vec_id < 5 are the query set


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def as_double(col: Column) -> Column:
    return col.cast("array<double>")


@query(
    "embed_cosine_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {N_QUERY_VECS}
    ), scored AS (
      SELECT q.q_id, e.vec_id,
             list_dot_product(q.qv, e.embedding::DOUBLE[])
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS cos
      FROM q JOIN embeddings e ON e.vec_id <> q.q_id
    ), ranked AS (
      SELECT q_id, vec_id, cos,
             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rn
      FROM scored
    )
    SELECT q_id, vec_id, ROUND(cos, 4) AS cos, CAST(rn AS INTEGER) AS rn
    FROM ranked WHERE rn <= 10
    """,
    headline=True,
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str):
    """Brute-force cosine top-10 for 5 query vectors.

    Scale shape: the tiny query set broadcasts; the corpus streams through
    once (no shuffle of the corpus). Per-query top-k via window over the
    scored rows — with a broadcast query side this is a single map + one
    small shuffle of (q_id, vec_id, cos) triples.
    """
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            (dot(F.col("qv"), F.col("v")) / (norm(F.col("qv")) * norm(F.col("v")))).alias("cos"),
        )
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id", r4(F.col("cos")).alias("cos"), "rn")
    )


@query(
    "embed_neardup_pairs",
    oracle="""
    WITH v AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.ev, b.ev) / (a.nrm * b.nrm), 4) AS cos
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.ev, b.ev) / (a.nrm * b.nrm) > 0.8
    """,
)
def embed_neardup_pairs(spark: SparkSession, sf_dir: str):
    """Embedding near-duplicate pairs (cosine > 0.8) on a bounded slice.

    The all-pairs form is quadratic by definition — bounded here to a
    vec_id slice as the correctness baseline.  embed_lsh_buckets is the
    scale path (bucket equi-join prunes the pair space).
    """
    v = (
        tbl(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 300)
        .select("vec_id", as_double(F.col("embedding")).alias("ev"))
        .withColumn("nrm", norm(F.col("ev")))
    )
    a = v.select(
        F.col("vec_id").alias("id_a"), F.col("ev").alias("ev_a"), F.col("nrm").alias("nrm_a")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), F.col("ev").alias("ev_b"), F.col("nrm").alias("nrm_b")
    )
    cos = dot(F.col("ev_a"), F.col("ev_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") > 0.8)
        .select("id_a", "id_b", r4(F.col("cos_raw")).alias("cos"))
    )


@query(
    "embed_norm_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n,
           ROUND(AVG(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4)
               AS avg_norm,
           ROUND(MIN(list_aggregate(embedding::DOUBLE[], 'min')), 4) AS min_comp,
           ROUND(MAX(list_aggregate(embedding::DOUBLE[], 'max')), 4) AS max_comp
    FROM embeddings GROUP BY label
    """,
)
def embed_norm_stats(spark: SparkSession, sf_dir: str):
    """Per-label vector statistics (norms, component extrema)."""
    e = tbl(spark, sf_dir, "embeddings").select(
        "label", as_double(F.col("embedding")).alias("ev")
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        r4(F.avg(norm(F.col("ev")))).alias("avg_norm"),
        r4(F.min(F.array_min("ev"))).alias("min_comp"),
        r4(F.max(F.array_max("ev"))).alias("max_comp"),
    )


# ---------------------------------------------------------------------------
# LSH-bucketed similarity (the 100 TB scale path)
# ---------------------------------------------------------------------------

#: 8 deterministic hyperplanes over 64 dims, reproducible in SQL
N_PLANES = 8
_PLANES = [
    [(((7 * (i + 11 * j) + 5) % 13) - 6) / 10.0 for i in range(64)]
    for j in range(N_PLANES)
]
_PLANES_SQL = [
    "[" + ", ".join(str(w) for w in plane) + "]" for plane in _PLANES
]
_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {p}::DOUBLE[]) >= 0 "
    f"THEN {1 << j} ELSE 0 END)"
    for j, p in enumerate(_PLANES_SQL)
)


def _bucket_col() -> Column:
    """Random-hyperplane LSH bucket id (8-bit signature) as a Column."""
    v = F.col("v")
    b = F.lit(0)
    for j, plane in enumerate(_PLANES):
        w = F.array([F.lit(x) for x in plane])
        b = b + F.when(dot(v, w) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return b


@query(
    "embed_lsh_buckets",
    oracle=f"""
    SELECT CAST({_BUCKET_SQL} AS INTEGER) AS bucket,
           COUNT(*) AS n_vecs,
           MIN(vec_id) AS min_vec_id
    FROM embeddings
    GROUP BY bucket
    """,
)
def embed_lsh_buckets(spark: SparkSession, sf_dir: str):
    """Random-hyperplane LSH bucket histogram.

    Sign-pattern of 8 fixed hyperplanes → 256 buckets; cosine-similar
    vectors collide with high probability.  Bucketing is a pure map
    (no shuffle except the tiny histogram agg)."""
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    return (
        e.select("vec_id", _bucket_col().cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
    )


@query(
    "embed_lsh_neardup_pairs",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding::DOUBLE[] AS ev,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm,
             CAST({_BUCKET_SQL} AS INTEGER) AS bucket
      FROM embeddings
    )
    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           ROUND(list_dot_product(x.ev, y.ev) / (x.nrm * y.nrm), 4) AS cos
    FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
    WHERE list_dot_product(x.ev, y.ev) / (x.nrm * y.nrm) > 0.5
    """,
    headline=True,
)
def embed_lsh_neardup_pairs(spark: SparkSession, sf_dir: str):
    """Embedding near-dup via LSH bucketing — unlike the bounded
    all-pairs baseline (embed_neardup_pairs), this runs on the FULL corpus:
    candidates only form within a bucket (~n²/256 pairs instead of n²),
    then the exact cosine filter keeps true matches.

    r18 (guide §4.2, VERDICT r17 #5): the pair stage is one numpy dgemm
    per bucket inside applyInPandas, replacing the bucket SELF-JOIN whose
    per-pair cosine ran a 64-element `aggregate` HOF in the expression
    interpreter.  Plan: 2 corpus scans + 2 exchanges + join + per-pair
    HOF → 1 scan + 1 bucket exchange + MapInPandas.  Bucket assignment
    stays JVM-side (sign decisions unchanged).  Float semantics: dgemm's
    pairwise summation can differ from the HOF's strict left-to-right
    order; on the sf0.001/0.01/0.1 data that reorder error measured
    2.2e-16 at most, against a smallest decision margin of 1.2e-2
    (|cos - 0.5| over all within-bucket pairs; VERDICT.md r18).  Any pair
    whose cos sits within 1e-6 of the 0.5 keep-threshold or of a 4dp
    rounding boundary is RECOMPUTED with the exact sequential math —
    output values round identically to the old plan on any data.  The
    final ROUND stays JVM-side.  At 100 TB the per-bucket O(n_b²) pair
    space is the same hazard the join had; the degree-cap lever
    (operators.graph.link_prediction_candidates) applies if buckets
    skew."""
    import pandas as pd

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    b = e.select("vec_id", "v", _bucket_col().cast("int").alias("bucket"))

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        V = np.stack(pdf["v"].to_numpy()[order]).astype(np.float64)
        if len(ids) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_raw": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_raw": "float64"}
            )
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        G = (V @ V.T) / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(len(ids), k=1)
        cos = G[iu, ju]

        def seq_cos(a: np.ndarray, bb: np.ndarray) -> float:
            # the JVM HOF's exact arithmetic: strict left-to-right sums
            def sdot(x, y):
                acc = 0.0
                for xi, yi in zip(x.tolist(), y.tolist()):
                    acc += xi * yi
                return acc

            return sdot(a, bb) / (
                np.sqrt(sdot(a, a)) * np.sqrt(sdot(bb, bb))
            )

        # guard band: near the keep threshold or a 4dp rounding boundary
        # the dgemm value could round differently than the sequential
        # value — recompute those few exactly (audit: reorder error
        # ~1e-13, so 1e-6 is a 7-decade cushion)
        frac = np.abs(cos * 1e4 - np.floor(cos * 1e4) - 0.5)
        near = (np.abs(cos - 0.5) < 1e-6) | (frac < 1e-2)
        for k in np.flatnonzero(near):
            cos[k] = seq_cos(V[iu[k]], V[ju[k]])
        keep = cos > 0.5
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "cos_raw": cos[keep],
            }
        )

    pairs = b.groupBy("bucket").applyInPandas(
        bucket_pairs, "id_a long, id_b long, cos_raw double"
    )
    return pairs.select("id_a", "id_b", r4(F.col("cos_raw")).alias("cos"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the partition-pruned scale path
# ---------------------------------------------------------------------------

IVF_CENTROID_LO, IVF_CENTROID_HI = 20, 28  # 8 deterministic seed centroids
IVF_NPROBE = 2
IVF_TOPK = 10

_IVF_COMMON_SQL = f"""
    WITH cent AS (
      SELECT vec_id AS c_id, embedding::DOUBLE[] AS cv,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS cn
      FROM embeddings
      WHERE vec_id >= {IVF_CENTROID_LO} AND vec_id < {IVF_CENTROID_HI}
    ), assign AS (
      SELECT vec_id, ev, nrm, c_id AS cell FROM (
        SELECT e.vec_id, e.embedding::DOUBLE[] AS ev,
               sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) AS nrm,
               c.c_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cv)
                          / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * c.cn)
                          DESC, c.c_id) AS crn
        FROM embeddings e, cent c
      ) WHERE crn = 1
    )
"""


@query(
    "ivf_cell_histogram",
    oracle=_IVF_COMMON_SQL
    + """
    SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
    FROM assign GROUP BY cell
    """,
)
def ivf_cell_histogram(spark: SparkSession, sf_dir: str):
    """IVF coarse quantization: every vector assigned to its
    nearest-by-cosine centroid (8 deterministic seed vectors).

    Scale shape: the centroid table broadcasts; assignment is a pure map
    (argmin over 8 dot products per row) + a tiny histogram agg.  At 100 TB
    the assignment becomes the partition key — each IVF cell is a parquet
    partition, so probing reads only nprobe/K of the corpus (partition
    pruning on `cell`)."""
    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cent = (
        e.filter(
            (F.col("vec_id") >= IVF_CENTROID_LO) & (F.col("vec_id") < IVF_CENTROID_HI)
        )
        .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
        .withColumn("cn", norm(F.col("cv")))
    )
    from pyspark.sql.window import Window

    cos = dot(F.col("v"), F.col("cv")) / (norm(F.col("v")) * F.col("cn"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "c_id")
    assign = (
        e.join(F.broadcast(cent))
        .withColumn("ccos", cos)
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") == 1)
        .select("vec_id", F.col("c_id").alias("cell"))
    )
    return assign.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id")
    )


@query(
    "ivf_ann_topk",
    oracle=_IVF_COMMON_SQL
    + f"""
    , probes AS (
      SELECT q_id, qv, qn, cell FROM (
        SELECT q.vec_id AS q_id, q.embedding::DOUBLE[] AS qv,
               sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) AS qn,
               c.c_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.embedding::DOUBLE[], c.cv)
                          / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * c.cn)
                          DESC, c.c_id) AS prn
        FROM embeddings q, cent c
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE prn <= {IVF_NPROBE}
    )
    SELECT q_id, vec_id, ROUND(cos, 4) AS cos, CAST(rn AS INTEGER) AS rn FROM (
      SELECT p.q_id, a.vec_id,
             list_dot_product(p.qv, a.ev) / (p.qn * a.nrm) AS cos,
             ROW_NUMBER() OVER (
               PARTITION BY p.q_id
               ORDER BY list_dot_product(p.qv, a.ev) / (p.qn * a.nrm) DESC, a.vec_id) AS rn
      FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id
    ) WHERE rn <= {IVF_TOPK}
    """,
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str):
    """IVF approximate top-k: each query probes its nprobe=2 nearest cells
    and ranks only the vectors assigned there — the candidate set shrinks
    by ~K/nprobe vs. brute force (embed_cosine_topk is the exact baseline).

    Everything broadcasts except the corpus: assignment is a map, the
    probe join is an equi-join on `cell`, and the per-query top-k is one
    small shuffle of scored triples."""
    from pyspark.sql.window import Window

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    cent = (
        e.filter(
            (F.col("vec_id") >= IVF_CENTROID_LO) & (F.col("vec_id") < IVF_CENTROID_HI)
        )
        .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv"))
        .withColumn("cn", norm(F.col("cv")))
    )
    ccos = dot(F.col("v"), F.col("cv")) / (norm(F.col("v")) * F.col("cn"))
    aw = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), "c_id")
    assign = (
        e.join(F.broadcast(cent))
        .withColumn("ccos", ccos)
        .withColumn("crn", F.row_number().over(aw))
        .filter(F.col("crn") == 1)
        .select("vec_id", F.col("v").alias("ev"), norm(F.col("ev")).alias("nrm"),
                F.col("c_id").alias("cell"))
    )
    q = e.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    qcos = dot(F.col("qv"), F.col("cv")) / (norm(F.col("qv")) * F.col("cn"))
    pw = Window.partitionBy("q_id").orderBy(F.desc("qcos"), "c_id")
    probes = (
        q.join(F.broadcast(cent))
        .withColumn("qcos", qcos)
        .withColumn("prn", F.row_number().over(pw))
        .filter(F.col("prn") <= IVF_NPROBE)
        .select("q_id", "qv", norm(F.col("qv")).alias("qn"),
                F.col("c_id").alias("cell"))
    )
    scos = dot(F.col("qv"), F.col("ev")) / (F.col("qn") * F.col("nrm"))
    rw = Window.partitionBy("q_id").orderBy(F.desc("cos_raw"), "vec_id")
    return (
        assign.join(
            F.broadcast(probes),
            (assign.cell == probes.cell) & (assign.vec_id != probes.q_id),
        )
        .withColumn("cos_raw", scos)
        .withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= IVF_TOPK)
        .select("q_id", "vec_id", r4(F.col("cos_raw")).alias("cos"), "rn")
    )


@query(
    "scalar_array_funcs",
    oracle="""
    SELECT vec_id,
           len(embedding) AS n_dims,
           CAST(len(list_filter(embedding::DOUBLE[], x -> x > 0)) AS INTEGER) AS n_pos,
           ROUND(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x),
                                'sum'), 4) AS sum_sq,
           ROUND(embedding[1]::DOUBLE + embedding[64]::DOUBLE, 4) AS ends_sum,
           ROUND(list_aggregate(embedding[1:8]::DOUBLE[], 'sum'), 4) AS head_sum
    FROM embeddings WHERE vec_id < 200
    """,
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str):
    """Higher-order array function surface — transform / filter / aggregate
    / slice / element_at, all JVM lambda expressions (SparkSQL higher-order
    functions), zero Python.

    These are the building blocks the vector queries compose (dot, norm);
    registered separately so the driver hash-checks each primitive against
    DuckDB's list functions.
    """
    e = tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    v = as_double(F.col("embedding"))
    return e.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.size(F.filter(v, lambda x: x > 0)).alias("n_pos"),
        r4(
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        ).alias("sum_sq"),
        r4(F.element_at(v, 1) + F.element_at(v, 64)).alias("ends_sum"),
        r4(
            F.aggregate(F.slice(v, 1, 8), F.lit(0.0), lambda a, x: a + x)
        ).alias("head_sum"),
    )


@query(
    "embed_quantize_int8",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
    ), s AS (
      SELECT vec_id, x,
             list_max(list_transform(x, v -> abs(v))) / 127.0 AS scale
      FROM e
    ), q AS (
      SELECT vec_id, scale,
             list_transform(x, v -> floor(v / scale + 0.5)) AS qv, x
      FROM s
    )
    SELECT vec_id,
           ROUND(scale, 6) AS scale_r6,
           CAST(list_sum(qv) AS BIGINT) AS sum_q,
           list_max(list_transform(range(1, len(x) + 1),
               i -> abs(qv[i] * scale - x[i]))) <= scale * 0.5000001 AS within_bound
    FROM q
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str):
    """Symmetric int8 quantization of the embedding column — the storage
    op a 100 TB vector corpus runs before indexing (4× smaller than f32,
    8× than f64).  Per vector: scale = max|x|/127, q = floor(x/scale+0.5)
    (explicit half-up so both engines round identically — never engine
    round()), plus the dequantization error contract |q·scale − x| ≤
    scale/2 verified in-plan.  Map-only array expressions, JVM codegen."""
    e = tbl(spark, sf_dir, "embeddings").selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS x"
    )
    scale = F.array_max(F.transform(F.col("x"), lambda v: F.abs(v))) / F.lit(127.0)
    e = e.select("vec_id", "x", scale.alias("scale"))
    qv = F.transform(F.col("x"), lambda v: F.floor(v / F.col("scale") + F.lit(0.5)))
    e = e.select("vec_id", "x", "scale", qv.alias("qv"))
    err = F.zip_with(
        F.col("qv"), F.col("x"), lambda q, v: F.abs(q * F.col("scale") - v)
    )
    return e.select(
        "vec_id",
        F.round("scale", 6).alias("scale_r6"),
        F.aggregate(F.col("qv"), F.lit(0.0), lambda a, v: a + v)
        .cast("long")
        .alias("sum_q"),
        (F.array_max(err) <= F.col("scale") * F.lit(0.5000001)).alias("within_bound"),
    )


# -- distributed KMeans (corpus clustering for curation/stratification) ----

KMEANS_K = 8
KMEANS_ITERS = 5
KMEANS_DIM = 64
#: assignment-margin gate: a vector within this d² of TWO centroids could
#: flip cluster under cross-engine float drift (~1e-13); the margin_ok
#: contract certifies the corpus is nowhere near that regime
KMEANS_MARGIN = 1e-6


def _kmeans_assign_udf(c: np.ndarray):
    """Vectorized assignment against the centroid matrix shipped in the
    task closure — same distance expansion as the SQL oracle
    (x·x − 2·x·c + c·c), first-min = lowest-cluster tie-break."""
    c_sq = (c**2).sum(axis=1)

    @F.pandas_udf("cluster int, margin double")
    def assign(xs: pd.Series) -> pd.DataFrame:
        x = np.vstack(xs.to_numpy())
        d2 = (x**2).sum(axis=1)[:, None] - 2.0 * (x @ c.T) + c_sq[None, :]
        best = np.argmin(d2, axis=1)
        part = np.partition(d2, 1, axis=1)
        return pd.DataFrame(
            {"cluster": best.astype(np.int32), "margin": part[:, 1] - part[:, 0]}
        )

    return assign


def _kmeans_fit(e) -> np.ndarray:
    """Lloyd's loop shared by embed_kmeans_clusters and
    dedup_semantic_clusters: k=8, 5 iterations, deterministic init from
    the first k vec_ids, keep-old-centroid rule for empty clusters.
    Per iteration one (cluster, dim) partial+final aggregation — the
    driver only ever holds k×64 floats."""
    init = e.filter(F.col("vec_id") < KMEANS_K).orderBy("vec_id").collect()
    cents = np.array([r.x for r in init])
    for _ in range(KMEANS_ITERS):
        assigned = e.select(
            "vec_id",
            "x",
            _kmeans_assign_udf(cents)(F.col("x")).getField("cluster").alias("cluster"),
        )
        stats = (
            assigned.select("cluster", F.posexplode("x").alias("i", "v"))
            .groupBy("cluster", "i")
            .agg(F.sum("v").alias("s"), F.count("*").alias("cnt"))
            .collect()
        )
        newc = cents.copy()  # empty clusters keep their old centroid
        sums = np.zeros((KMEANS_K, KMEANS_DIM))
        counts = np.zeros(KMEANS_K)
        for r in stats:
            sums[r.cluster, r.i] = r.s
            counts[r.cluster] = r.cnt
        nonempty = counts > 0
        newc[nonempty] = sums[nonempty] / counts[nonempty, None]
        cents = newc
    return cents


def _kmeans_oracle_ctes() -> str:
    """DuckDB oracle CTE prefix (through per-vector assignments `fin`):
    Lloyd's algorithm UNROLLED as 5 CTE stages — a real cross-engine
    differential test of the iterative computation, not a captured
    literal.  Same init (centroids = vectors vec_id < k), same distance
    expansion (x·x − 2·x·c + c·c), same lowest-cluster tie-break, same
    keep-old-centroid rule for empty clusters.  Shared by the kmeans
    entry and the SemDeDup entry's oracle."""
    d2 = (
        "list_dot_product(e.x, e.x) - 2*list_dot_product(e.x, c.cx)"
        " + list_dot_product(c.cx, c.cx)"
    )
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings)",
        f"cent0 AS (SELECT CAST(vec_id AS INTEGER) AS cluster,"
        f" embedding::DOUBLE[] AS cx FROM embeddings WHERE vec_id < {KMEANS_K})",
    ]
    for t in range(KMEANS_ITERS):
        parts.append(
            f"a{t} AS (SELECT vec_id, x, cluster FROM ("
            f"SELECT e.vec_id, e.x, c.cluster,"
            f" ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY {d2}, c.cluster)"
            f" AS rn FROM e CROSS JOIN cent{t} c) WHERE rn = 1)"
        )
        parts.append(
            f"m{t} AS (SELECT cluster, i, AVG(x[i]) AS v FROM a{t},"
            f" (SELECT unnest(range(1, {KMEANS_DIM + 1})) AS i) s"
            f" GROUP BY cluster, i)"
        )
        parts.append(
            f"n{t} AS (SELECT cluster, list(v ORDER BY i) AS cx"
            f" FROM m{t} GROUP BY cluster)"
        )
        parts.append(
            f"cent{t + 1} AS (SELECT c.cluster, COALESCE(n.cx, c.cx) AS cx"
            f" FROM cent{t} c LEFT JOIN n{t} n USING (cluster))"
        )
    parts.append(
        f"fin AS (SELECT vec_id, cluster, d2, ROW_NUMBER() OVER"
        f" (PARTITION BY vec_id ORDER BY d2, cluster) AS rn FROM ("
        f"SELECT e.vec_id, c.cluster, {d2} AS d2"
        f" FROM e CROSS JOIN cent{KMEANS_ITERS} c))"
    )
    return ",\n".join(parts)


def _kmeans_oracle() -> str:
    return (
        _kmeans_oracle_ctes()
        + f"""
    SELECT f1.cluster, COUNT(*) AS n,
           MIN(f2.d2 - f1.d2) > {KMEANS_MARGIN} AS margin_ok
    FROM fin f1 JOIN fin f2 ON f1.vec_id = f2.vec_id AND f2.rn = 2
    WHERE f1.rn = 1
    GROUP BY f1.cluster ORDER BY f1.cluster
    """
    )


@query("embed_kmeans_clusters", oracle=_kmeans_oracle(), headline=False)
def embed_kmeans_clusters(spark: SparkSession, sf_dir: str):
    """Distributed Lloyd's KMeans over the embedding corpus (k=8, 5 fixed
    iterations, deterministic init from the first k vec_ids) — the
    clustering primitive behind stratified corpus sampling / diversity
    curation at 100 TB.

    Per iteration: centroids ship in the task closure (k×64 doubles —
    broadcast-scale), assignment is ONE vectorized pandas_udf (B×64 @
    64×k per Arrow batch), and the centroid update is a Spark
    partial+final aggregation over (cluster, dim) — the driver only ever
    holds k×64 floats.  No rounding anywhere: cross-engine float drift is
    ~1e-13 and the emitted margin_ok contract certifies every vector is
    ≥1e-6 from any cluster boundary, so counts are drift-stable.
    """
    e = (
        tbl(spark, sf_dir, "embeddings")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS x")
        .persist()
    )
    cents = _kmeans_fit(e)
    assign_with = _kmeans_assign_udf
    final = e.select(assign_with(cents)(F.col("x")).alias("a")).select(
        F.col("a.cluster").alias("cluster"), F.col("a.margin").alias("margin")
    )
    # k-row result materialized eagerly WHILE e is still cached — the
    # caller's collect then reads the checkpoint instead of re-scanning
    # the embeddings uncached after the unpersist below
    out = register_result_checkpoint(
        checkpoint(
            final.groupBy("cluster")
            .agg(
                F.count("*").alias("n"),
                (F.min("margin") > F.lit(KMEANS_MARGIN)).alias("margin_ok"),
            )
            .orderBy("cluster")
        )
    )
    e.unpersist()
    return out


SEMDEDUP_COS = 0.4


@query(
    "dedup_semantic_clusters",
    # cosine threshold hazard class: cos > 0.4 on unrounded doubles
    # (same accepted class as the 0.5/0.8 thresholds — a pair within
    # ~1e-15 of the threshold could flip; none are, by construction of
    # the drift analysis in ROUND_NOTES)
    oracle=_kmeans_oracle_ctes()
    + f""",
    asg AS (SELECT vec_id, cluster FROM fin WHERE rn = 1),
    nrm AS (SELECT e.vec_id, e.x,
                   sqrt(list_dot_product(e.x, e.x)) AS nn FROM e)
    SELECT a1.cluster,
           a1.vec_id AS id_a, b1.vec_id AS id_b,
           ROUND(list_dot_product(a.x, b.x) / (a.nn * b.nn), 6) AS cos_6
    FROM asg a1
    JOIN asg b1 ON a1.cluster = b1.cluster AND a1.vec_id < b1.vec_id
    JOIN nrm a ON a.vec_id = a1.vec_id
    JOIN nrm b ON b.vec_id = b1.vec_id
    WHERE list_dot_product(a.x, b.x) / (a.nn * b.nn) > {SEMDEDUP_COS}
    ORDER BY id_a, id_b
    """,
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str):
    """SEMANTIC DEDUP, SemDeDup-style (r10): cluster the embedding
    corpus (the SAME distributed Lloyd's fit as embed_kmeans_clusters —
    shared `_kmeans_fit`), then search for high-cosine pairs ONLY
    WITHIN clusters — the pair space shrinks from C(n,2) to
    Σ C(n_k, 2), the whole point of clustering before deduplication at
    corpus scale (recall is heuristic by design: a near-dup pair split
    across clusters is missed, the documented SemDeDup trade).  The
    DuckDB oracle replays the identical 5 unrolled Lloyd iterations AND
    the within-cluster pair scan, so cluster assignments and surviving
    pairs hash-match end-to-end.

    100 TB path: assignment is map-side (centroids in the closure);
    the pair join shuffles on cluster id — each reducer sees one
    cluster's vectors, never the corpus."""
    e = (
        tbl(spark, sf_dir, "embeddings")
        .selectExpr("vec_id", "CAST(embedding AS array<double>) AS x")
        .persist()
    )
    cents = _kmeans_fit(e)
    # backs the returned pair-join plan: harness-released
    asg = register_result_checkpoint(
        checkpoint(
            e.select(
                "vec_id",
                "x",
                _kmeans_assign_udf(cents)(F.col("x")).getField("cluster").alias("cluster"),
                norm(F.col("x")).alias("nn"),
            )
        )
    )
    e.unpersist()
    a = asg.select(
        F.col("cluster"),
        F.col("vec_id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("nn").alias("na"),
    )
    b = asg.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("nn").alias("nb"),
    )
    cos = dot(F.col("xa"), F.col("xb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(
            b,
            (F.col("cluster") == F.col("cluster_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("cos_raw", cos)
        .filter(F.col("cos_raw") > SEMDEDUP_COS)
        .select("cluster", "id_a", "id_b", F.round("cos_raw", 6).alias("cos_6"))
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_semantic_verdict",
    # WITH RECURSIVE prefix: the closure CTE re-derives the transitive
    # closure of the SemDeDup pair graph (the dedup_neardup_clusters
    # referee pattern); gate-scale-only like that entry's oracle
    oracle=_kmeans_oracle_ctes().replace("WITH ", "WITH RECURSIVE ", 1)
    + f""",
    asg AS (SELECT vec_id, cluster FROM fin WHERE rn = 1),
    nrm AS (SELECT e.vec_id, e.x,
                   sqrt(list_dot_product(e.x, e.x)) AS nn FROM e),
    prs AS MATERIALIZED (
      SELECT a1.vec_id AS doc_a, b1.vec_id AS doc_b
      FROM asg a1
      JOIN asg b1 ON a1.cluster = b1.cluster AND a1.vec_id < b1.vec_id
      JOIN nrm a ON a.vec_id = a1.vec_id
      JOIN nrm b ON b.vec_id = b1.vec_id
      WHERE list_dot_product(a.x, b.x) / (a.nn * b.nn) > {SEMDEDUP_COS}
    ),
    edges2 AS (
      SELECT doc_a AS s, doc_b AS d FROM prs
      UNION ALL
      SELECT doc_b, doc_a FROM prs
    ),
    reach AS (
      SELECT s AS node, s AS comp FROM edges2
      UNION
      SELECT e2.d AS node, r.comp FROM reach r JOIN edges2 e2 ON e2.s = r.node
    ),
    comp AS MATERIALIZED (SELECT node, MIN(comp) AS component FROM reach GROUP BY node),
    verdicts AS MATERIALIZED (
      SELECT e.vec_id,
             CAST(COALESCE(c.component, e.vec_id) AS BIGINT) AS canonical_id,
             COALESCE(c.component, e.vec_id) = e.vec_id AS keep
      FROM e LEFT JOIN comp c ON c.node = e.vec_id
    ),
    summary AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM verdicts
    )
    SELECT v.vec_id, v.canonical_id, v.keep,
           s.n_total, s.n_kept,
           CAST(s.n_kept * 1000000 // s.n_total AS BIGINT) AS shrink_ppm
    FROM verdicts v CROSS JOIN summary s
    ORDER BY v.vec_id
    """,
)
def dedup_semantic_verdict(spark: SparkSession, sf_dir: str):
    """SemDeDup KEEP/DROP VERDICT stage (r11, VERDICT r10 #3) — what a
    pipeline user actually runs: compose the within-cluster high-cosine
    pairs of `dedup_semantic_clusters` with the connected-components
    machinery of `dedup_neardup_clusters` into a per-document verdict —
    keep the canonical copy (min vec_id of its near-dup component), drop
    the rest — plus the corpus shrink ratio in exact integer
    parts-per-million (n_kept·10⁶ div n_total: no float rounding to
    disagree cross-engine).

    The DuckDB oracle replays the ENTIRE pipeline: 5 unrolled Lloyd
    iterations → within-cluster pair scan → RECURSIVE-CTE transitive
    closure → verdict join, so assignments, components, verdicts AND the
    ratio all hash-match end-to-end.

    100 TB path: pair search shuffles on cluster id (never all-pairs);
    CC converges in O(component diameter) rounds — near-dup components
    are tiny cliques; the verdict is one left join keyed on doc id; the
    summary is a broadcast scalar."""
    from wukong_spark.operators.graph import connected_components

    pairs = dedup_semantic_clusters(spark, sf_dir).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )
    cc = connected_components(
        pairs, "doc_a", "doc_b",
        iteration_partitions=spark.sparkContext.defaultParallelism,
    )
    all_ids = tbl(spark, sf_dir, "embeddings").select("vec_id")
    canonical = F.coalesce(F.col("component"), F.col("vec_id"))
    verdicts = all_ids.join(cc, all_ids.vec_id == cc.node, "left").select(
        "vec_id",
        canonical.cast("long").alias("canonical_id"),
        (canonical == F.col("vec_id")).alias("keep"),
    )
    summary = verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("n_kept"),
    )
    return (
        verdicts.crossJoin(F.broadcast(summary))
        .select(
            "vec_id",
            "canonical_id",
            "keep",
            "n_total",
            "n_kept",
            # integer DIV: exact on both engines, no double rounding
            F.expr("n_kept * 1000000L div n_total").alias("shrink_ppm"),
        )
        .orderBy("vec_id")
    )


@query(
    "ivf_recall_check",
    oracle=_IVF_COMMON_SQL
    + f"""
    , probes AS (
      SELECT q_id, qv, qn, cell FROM (
        SELECT q.vec_id AS q_id, q.embedding::DOUBLE[] AS qv,
               sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) AS qn,
               c.c_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.embedding::DOUBLE[], c.cv)
                          / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) * c.cn)
                          DESC, c.c_id) AS prn
        FROM embeddings q, cent c WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE prn <= {IVF_NPROBE}
    ), ivf AS (
      SELECT q_id, vec_id FROM (
        SELECT p.q_id, a.vec_id,
               ROW_NUMBER() OVER (PARTITION BY p.q_id
                 ORDER BY list_dot_product(p.qv, a.ev) / (p.qn * a.nrm) DESC, a.vec_id) AS rn
        FROM probes p JOIN assign a ON a.cell = p.cell AND a.vec_id <> p.q_id
      ) WHERE rn <= {IVF_TOPK}
    ), exact AS (
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                 ORDER BY list_dot_product(q.embedding::DOUBLE[], e.embedding::DOUBLE[])
                          / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                             * sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])))
                          DESC, e.vec_id) AS rn
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERY_VECS}
      ) WHERE rn <= {IVF_TOPK}
    )
    SELECT e.q_id, COUNT(*) AS n_exact, COUNT(i.vec_id) AS n_hit
    FROM exact e LEFT JOIN ivf i ON e.q_id = i.q_id AND e.vec_id = i.vec_id
    GROUP BY e.q_id ORDER BY e.q_id
    """,
)
def ivf_recall_check(spark: SparkSession, sf_dir: str):
    """ANN QUALITY measurement, fully in-plan: per query, how many of the
    exact cosine top-10 (embed_cosine_topk's brute-force leg) the IVF probe
    path (ivf_ann_topk's leg) retrieves.  Emits exact integers — the
    recall@10 differential every ANN deployment tracks, here itself
    differential-tested against DuckDB running both legs.

    Scale: the exact leg is the measurement harness (run on a sampled
    query set, as here), not the serving path — recall of the
    partition-pruned IVF index is certified without ever materializing
    all-pairs on the full corpus."""
    exact = embed_cosine_topk(spark, sf_dir).select("q_id", "vec_id")
    ivf = ivf_ann_topk(spark, sf_dir).select(
        F.col("q_id").alias("iq"), F.col("vec_id").alias("iv")
    )
    hit = exact.join(
        ivf, (F.col("q_id") == F.col("iq")) & (F.col("vec_id") == F.col("iv")), "left"
    )
    return (
        hit.groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("iv").alias("n_hit"),
        )
        .orderBy("q_id")
    )


@query(
    "embed_covariance",
    oracle="""
    WITH ex AS (
      SELECT vec_id, s.i AS i, CAST(embedding[s.i] AS DOUBLE) AS x
      FROM embeddings, (SELECT unnest(range(1, 65)) AS i) s
      WHERE vec_id < 1000
    ),
    n AS (SELECT COUNT(DISTINCT vec_id) AS cnt FROM ex),
    mu AS (SELECT i, SUM(x) / (SELECT cnt FROM n) AS m FROM ex GROUP BY i),
    g AS (
      SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS s
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    )
    SELECT g.i AS i, g.j AS j,
           ROUND(g.s / (SELECT cnt FROM n) - ma.m * mb.m, 6) AS cov
    FROM g JOIN mu ma ON ma.i = g.i JOIN mu mb ON mb.i = g.j
    """,
)
def embed_covariance(spark: SparkSession, sf_dir: str):
    """Population covariance matrix of the embedding columns (upper
    triangle), fully relational — the whitening/PCA-prep statistic a
    training-data pipeline computes before dimension reduction.

    Computed as cov_ij = gramian_ij/n − m_i·m_j: the fact table is
    exploded and self-joined ONCE for the gramian (the embed_gramian
    plan) and once for the means — the centered-product form would
    re-explode it four times.  The mean join happens AFTER the (i, j)
    aggregation, on the 64²-row result, not per fact row.  Round-6
    absorbs summation-order drift (the embed_gramian precedent).

    Scale shape: self-join key is vec_id (row-local, no skew); one
    shuffle for the (i, j) aggregation; means and n broadcast onto the
    tiny aggregate."""
    e = tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 1000)
    ex = e.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x"),
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "x")
    n = ex.select(F.countDistinct("vec_id").alias("cnt"))
    mu = (
        ex.groupBy("i")
        .agg(F.sum("x").alias("sx"))
        .crossJoin(F.broadcast(n))
        .select("i", (F.col("sx") / F.col("cnt")).alias("m"))
    )
    a, b = ex.alias("a"), ex.alias("b")
    g = (
        a.join(b, (F.col("a.vec_id") == F.col("b.vec_id")) & (F.col("a.i") <= F.col("b.i")))
        .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
        .agg(F.sum(F.col("a.x") * F.col("b.x")).alias("s"))
    )
    ma = F.broadcast(mu.select(F.col("i").alias("mi"), F.col("m").alias("am")))
    mb = F.broadcast(mu.select(F.col("i").alias("mj"), F.col("m").alias("bm")))
    return (
        g.join(ma, F.col("mi") == F.col("i"))
        .join(mb, F.col("mj") == F.col("j"))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            F.round(F.col("s") / F.col("cnt") - F.col("am") * F.col("bm"), 6).alias("cov"),
        )
    )


@query(
    "embed_pca_check",
    oracle=(
        "SELECT TRUE AS decorrelated, TRUE AS variance_sorted,"
        " TRUE AS variance_captured, 8 AS k"
    ),
)
def embed_pca_check(spark: SparkSession, sf_dir: str):
    """PCA projection contract — the dimension-reduction step a vector
    pipeline runs before ANN indexing (64 → 8 components here).

    Fit: one `mlops.batch_sums` pass accumulates per-partition
    (n, Σx, XᵀX) partials (the linreg_fit_normal scaling story —
    O(d²·partitions) driver traffic); driver eigh gives the top-k
    components.  Project: the same moments statistic, with the mean and
    components broadcast, over the projected vectors.

    Contracts, each verified by an INDEPENDENT second distributed pass
    over the PROJECTED vectors:
    - decorrelated: the projected covariance is diagonal (off-diagonal
      max < 1e-8 of the top eigenvalue);
    - variance_sorted: projected per-component variances descend and
      match the eigenvalues to 1e-8 relative;
    - variance_captured: top-8 eigenvalue mass / total variance matches
      the projected total variance ratio.
    Only verdicts leave the cluster."""
    from wukong_spark.mlops import batch_sums

    k = 8
    e = tbl(spark, sf_dir, "embeddings").selectExpr(
        "CAST(embedding AS array<double>) AS v"
    )
    e = e.persist()  # read by the fit pass and the verification pass

    def moments(x, proj):
        # [n | Σz (d) | ZᵀZ (d²)] of z = x, or of its projection (x − μ)·W
        z = x if proj is None else (x - proj[0]) @ proj[1]
        return np.concatenate([[float(len(z))], z.sum(axis=0), (z.T @ z).ravel()])

    total = batch_sums(e, moments, ["v"])
    # payload layout is [n | Σx (d) | XᵀX (d²)] → d from the quadratic
    d = int((-1 + (1 + 4 * (len(total) - 1)) ** 0.5) / 2)
    n, sx, xtx = total[0], total[1 : 1 + d], total[1 + d :].reshape(d, d)
    mean = sx / n
    cov = xtx / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    comp = evecs[:, :k]  # d×k
    ptotal = batch_sums(e, moments, ["v"], params=(mean, comp))
    e.unpersist()
    pn, psx, pzz = ptotal[0], ptotal[1 : 1 + k], ptotal[1 + k :].reshape(k, k)
    pcov = pzz / pn - np.outer(psx / pn, psx / pn)
    off = pcov - np.diag(np.diag(pcov))
    # degenerate (near-constant) data must yield a FAIL verdict, not a
    # ZeroDivisionError crash
    top = max(float(evals[0]), 1e-300)
    tot = max(float(evals.sum()), 1e-300)
    decorrelated = float(np.abs(off).max()) / top < 1e-8
    pvar = np.diag(pcov)
    # monotonicity tolerance RELATIVE to the top eigenvalue (ADVICE r5):
    # pvar only matches the eigenvalues to ~1e-8·top, so an absolute 1e-12
    # gate could flip nondeterministically on near-degenerate adjacent
    # eigenvalues — scale it like every other contract gate here
    variance_sorted = bool(
        np.all(np.diff(pvar) <= 1e-8 * top)
        and np.abs(pvar - evals[:k]).max() / top < 1e-8
    )
    variance_captured = abs(float(pvar.sum()) - float(evals[:k].sum())) / tot < 1e-8
    return local_frame(spark,
        [(bool(decorrelated), variance_sorted, bool(variance_captured), k)],
        "decorrelated boolean, variance_sorted boolean,"
        " variance_captured boolean, k int",
    )


@query(
    "embed_knn_classifier",
    # cosine uses the SAME sequential-fold IEEE op order in both engines
    # (the embed_cosine_topk discipline); ranking ties break on vec_id,
    # vote ties on (count DESC, label ASC) — both total orders, so the
    # prediction is bit-deterministic
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, label AS true_label, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id % 20 = 0
    ), t AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS tv
      FROM embeddings WHERE vec_id % 20 <> 0
    ), scored AS (
      SELECT q.q_id, q.true_label, t.vec_id, t.label,
             list_dot_product(q.qv, t.tv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(t.tv, t.tv))) AS cos
      FROM q CROSS JOIN t
    ), ranked AS (
      SELECT q_id, true_label, label,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY cos DESC, vec_id ASC
             ) AS rn
      FROM scored
    ), votes AS (
      SELECT q_id, true_label, label, COUNT(*) AS c
      FROM ranked WHERE rn <= 5 GROUP BY q_id, true_label, label
    ), pred AS (
      SELECT q_id, true_label, label AS pred_label, CAST(c AS BIGINT) AS votes,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY c DESC, label ASC
             ) AS pr
      FROM votes
    )
    SELECT q_id, true_label, pred_label, votes,
           true_label = pred_label AS correct
    FROM pred WHERE pr = 1 ORDER BY q_id
    """,
)
def embed_knn_classifier(spark: SparkSession, sf_dir: str):
    """k-NN CLASSIFIER over embeddings (r13) — the semi-supervised
    labeling / label-propagation primitive: every 20th vector is held
    out as a query, classified by majority vote of its 5
    nearest-cosine labeled neighbors (vote ties break count DESC then
    label ASC — a total order, so predictions replay exactly).

    Plan: the held-out query side is small by construction and
    BROADCASTS; the labeled corpus streams through ONE scoring pass (no
    corpus shuffle), then only (q_id, label, cos) triples move through
    the rank/vote windows.  At 100 TB the brute-force scoring pass
    swaps for the IVF partition-pruned probe (`operators/ann.py`) —
    candidate generation changes, the vote machinery is identical."""
    from pyspark.sql.window import Window

    e = tbl(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    q = e.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("qv"),
    )
    t = e.filter(F.col("vec_id") % 20 != 0)
    scored = t.crossJoin(F.broadcast(q)).select(
        "q_id",
        "true_label",
        "vec_id",
        "label",
        (dot(F.col("qv"), F.col("v")) / (norm(F.col("qv")) * norm(F.col("v"))))
        .alias("cos"),
    )
    wr = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    votes = (
        scored.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .groupBy("q_id", "true_label", "label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("q_id").orderBy(F.desc("c"), F.asc("label"))
    return (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select(
            "q_id",
            "true_label",
            F.col("label").alias("pred_label"),
            F.col("c").cast("long").alias("votes"),
            (F.col("true_label") == F.col("label")).alias("correct"),
        )
        .orderBy("q_id")
    )
