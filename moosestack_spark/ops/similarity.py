"""Similarity search over embedding columns (array<float>).

Beyond-reference operator family (no moosestack counterpart) — SURVEY.md §8
maps each gate query here to its check type.

- brute-force cosine top-k: the exactness baseline.  Expressed with
  F.aggregate / F.zip_with — JVM-side fold, no Python UDF; per (query,
  candidate) pair one sequential dot product, then per-query top-k via a
  window (partitioned by query -> scales out per query).
- LSH-bucketed (random hyperplane signs) approximate variant: the 100 TB
  path — candidates only within matching sign-buckets, then exact cosine
  re-rank inside the bucket.
- IVF-style variant: coarse centroids by hashing (deterministic stand-in for
  k-means in this container), probe nearest cells only.

At 100 TB the brute-force path is a broadcast of the (small) query set
against a partitioned candidate scan — linear, no shuffle of candidates;
only the top-k window shuffles (queries × k rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moosestack_spark.registry import query
from moosestack_spark.tables import t


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double fold — deterministic FP."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _unit(v: Column) -> Column:
    """L2-normalize an array<double> column, norm bound ONCE per row.

    The naive spelling ``F.transform(v, lambda x: x / nrm)`` re-evaluates
    the 64-element norm fold for EVERY element (higher-order functions run
    interpreted, no CSE across lambda elements) — measured 9.9 s vs 0.5 s
    for one pass over 60k x dim-64 vectors.  Binding the norm through a
    one-element transform (the fmix32_expr let-binding trick) evaluates
    the fold once; the per-element arithmetic (x / sqrt(fold)) and hence
    every downstream hash is bit-identical."""
    nrm = F.sqrt(
        F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return F.element_at(
        F.transform(F.array(nrm), lambda n: F.transform(v, lambda x: x / n)),
        1,
    )


def brute_force_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k: broadcast queries x scan candidates -> window
    top-k per query.  Ties broken by candidate id (deterministic)."""
    q = queries_df.select(F.col(query_id), F.col(vec).alias("__qv"))
    c = candidates_df.select(F.col(cand_id), F.col(vec).alias("__cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn("cos_sim", cosine(F.col("__qv"), F.col("__cv")))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "rnk", "cos_sim")
    )


@query(
    "similarity_bruteforce_topk",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT q_id, c_id,
         list_dot_product(LIST_TRANSFORM(qv, x -> CAST(x AS DOUBLE)),
                          LIST_TRANSFORM(cv, x -> CAST(x AS DOUBLE)))
         / (SQRT(list_dot_product(LIST_TRANSFORM(qv, x -> CAST(x AS DOUBLE)),
                                  LIST_TRANSFORM(qv, x -> CAST(x AS DOUBLE))))
          * SQRT(list_dot_product(LIST_TRANSFORM(cv, x -> CAST(x AS DOUBLE)),
                                  LIST_TRANSFORM(cv, x -> CAST(x AS DOUBLE)))))
           AS cos_sim
  FROM q, c
)
SELECT q_id, c_id, rnk FROM (
  SELECT q_id, c_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC) AS rnk
  FROM scored
) WHERE rnk <= 10
""",
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine neighbors for 8 probe vectors.  The gate compares ids +
    rank only (the float similarity itself stays engine-internal: FP
    accumulation order differs across engines, ranking does not)."""
    e = t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cs = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return brute_force_topk(qs, cs, k=10, query_id="q_id", cand_id="c_id").select(
        "q_id", "c_id", "rnk"
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH buckets (approximate; rows-only driver check, recall
# verified against brute force in pytest)
# --------------------------------------------------------------------------

N_PLANES = 12


def _plane_coeffs(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from a hash — reproducible
    across runs/engines without numpy RNG state."""
    coeffs = []
    x = (plane * 2654435761 + 0x9E3779B9) & 0xFFFFFFFF
    for i in range(dim):
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        coeffs.append(((x >> 8) / float(1 << 24)) * 2.0 - 1.0)
    return coeffs


def _gauss_coeffs(dim: int, plane: int) -> list[float]:
    """Deterministic standard-NORMAL projection row: Box-Muller over the
    same hash-LCG uniform stream as _plane_coeffs (RNG-state-free, so the
    oracle generator reproduces the exact float64 literals).

    Why a second family exists (ADVICE r11): cross-polytope collision
    probability under uniform-[-1,1) rows depends on the pair's absolute
    ORIENTATION, not just its angle — a corpus concentrated in unfavorable
    directions collides less than an orientation-averaged calibration
    predicts.  With iid Gaussian rows the projection ensemble is
    rotation-invariant, so E[collision | pair] is a function of the pair
    angle alone (up to the LCG's approximation of iid normals) and the
    Monte-Carlo dial in ops/dedup._cp_collision_prob holds for ANY corpus
    orientation.  The hyperplane paths keep _plane_coeffs unchanged (sign
    tests only need a symmetric distribution)."""
    import math

    vals: list[float] = []
    x = (plane * 2654435761 + 0x51ED2701) & 0xFFFFFFFF
    while len(vals) < dim:
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        u1 = ((x >> 8) + 1) / float((1 << 24) + 1)  # (0, 1]: log-safe
        x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
        u2 = (x >> 8) / float(1 << 24)  # [0, 1)
        r = math.sqrt(-2.0 * math.log(u1))
        vals.append(r * math.cos(2.0 * math.pi * u2))
        if len(vals) < dim:
            vals.append(r * math.sin(2.0 * math.pi * u2))
    return vals


def lsh_bucket(
    vec: Column, dim: int, n_planes: int = N_PLANES, plane_base: int = 0
) -> Column:
    """Sign-bit bucket id from n_planes random hyperplanes (JVM arithmetic).

    plane_base offsets the plane family so independent bucketings can be
    drawn from the same deterministic stream (band b uses planes
    [b*n, (b+1)*n) — the graph_search edge builder's long/short links)."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        coeffs = _plane_coeffs(dim, plane_base + p)
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(c) for c in coeffs]),
                lambda x, w: x.cast("double") * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket.bitwiseOR(
            F.when(proj >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def lsh_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    dim: int,
    k: int = 10,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """ANN: exact cosine re-rank restricted to candidates sharing the
    query's LSH bucket.  At scale: shuffle on bucket id co-locates each
    bucket; queries broadcast."""
    # norms once per row before the join (the oracle's `nrm` column):
    # cosine per surviving pair is then one dot fold, not three
    q = queries_df.select(
        F.col(query_id),
        F.col(vec).alias("__qv"),
        lsh_bucket(F.col(vec), dim).alias("__qb"),
        _norm(F.col(vec)).alias("__qn"),
    )
    c = candidates_df.select(
        F.col(cand_id),
        F.col(vec).alias("__cv"),
        lsh_bucket(F.col(vec), dim).alias("__cb"),
        _norm(F.col(vec)).alias("__cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("__qb") == F.col("__cb"))
        .withColumn(
            "cos_sim",
            _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "rnk", "cos_sim")
    )


def _lsh_bucketed_oracle(dim: int = 64, k: int = 10) -> str:
    """DuckDB SQL replaying the sign-bucket prune with the same plane
    literals (the dedup_embedding_cosine_pruned technique): the
    approximation is in recall vs brute force, never in what either engine
    computes, so the bucketed ANN carries a hard value-hash gate."""
    bits = []
    for p in range(N_PLANES):
        lits = ", ".join(repr(c) for c in _plane_coeffs(dim, p))
        bits.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    bucket_sql = " + ".join(bits)
    return f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v, {bucket_sql} AS bkt,
         SQRT(list_dot_product(v, v)) AS nrm
  FROM e
),
ranked AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
                    c.vec_id ASC
         ) AS rnk
  FROM b q JOIN b c ON q.bkt = c.bkt
  WHERE q.vec_id < 8
)
SELECT q_id, c_id, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= {k}
"""


@query("similarity_lsh_bucketed", oracle=_lsh_bucketed_oracle())
def similarity_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH sign-bucket ANN: exact cosine top-10 restricted to each query's
    12-plane bucket.  The plane coefficients are deterministic hash-derived
    literals (_plane_coeffs) replayed verbatim by the DuckDB oracle, so the
    gate hash-matches exactly — graduated from rows-only the same way the
    pruned embedding-dedup gate is oracled."""
    e = t(spark, sf_dir, "embeddings")
    dim = 64  # embeddings table vec dim (TESTDATA.md)
    qs = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    cs = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return lsh_topk(qs, cs, dim=dim, k=10).select("q_id", "c_id", "rnk")


# --------------------------------------------------------------------------
# IVF-style ANN: coarse quantization into cells, probe nearest cells only.
# Deterministic stand-in for k-means centroids in this container: the first
# K vectors by id are the centroids (real deployments plug trained centroids
# into the same operator).  The correctness gate runs the FULL pipeline
# against a SQL oracle expressing identical semantics.
# --------------------------------------------------------------------------


def ivf_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec: str = "__v",
    out_col: str = "__cell",
) -> DataFrame:
    """Assign each row to its nearest centroid (max cosine; exact ties break
    to the smaller centroid id — centroids are sorted by id and numpy argmax
    returns the FIRST maximum).  One vectorized float64 GEMM per Arrow batch
    via mapInPandas: a pure scan-side projection, NO shuffle — the row x
    centroid work scales linearly with executors and the centroid matrix
    rides along as a task closure (it is small by construction)."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    out_schema = StructType(df.schema.fields + [StructField(out_col, IntegerType())])

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            out = pdf.copy()
            if len(pdf) == 0:
                out[out_col] = pd.Series([], dtype="int32")
                yield out
                continue
            V = np.vstack(pdf[vec].to_numpy()).astype(np.float64)
            cos = (V @ C.T) / np.outer(np.linalg.norm(V, axis=1), cn)
            out[out_col] = cids[cos.argmax(axis=1)].astype("int32")
            yield out

    return df.mapInPandas(kernel, out_schema)


def _ivf_probe(
    qdf: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    vec: str = "__qv",
    out_col: str = "__cell",
) -> DataFrame:
    """nprobe nearest cells per query (cosine desc, centroid id asc on exact
    ties — stable argsort over id-sorted centroids).  Emits one row per
    (query, probed cell)."""
    import numpy as np

    from pyspark.sql.types import IntegerType, StructField, StructType

    cids = np.array([cid for cid, _ in centroids], dtype=np.int64)
    C = np.array([v for _, v in centroids], dtype=np.float64)
    cn = np.linalg.norm(C, axis=1)
    out_schema = StructType(qdf.schema.fields + [StructField(out_col, IntegerType())])

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                out[out_col] = pd.Series([], dtype="int32")
                yield out
                continue
            V = np.vstack(pdf[vec].to_numpy()).astype(np.float64)
            cos = (V @ C.T) / np.outer(np.linalg.norm(V, axis=1), cn)
            top = np.argsort(-cos, axis=1, kind="stable")[:, :nprobe]
            idx = np.repeat(np.arange(len(pdf)), top.shape[1])
            out = pdf.iloc[idx].reset_index(drop=True)
            out[out_col] = cids[top.ravel()].astype("int32")
            yield out

    return qdf.mapInPandas(kernel, out_schema)


def ivf_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    k: int = 5,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
    centroids: list | None = None,
) -> DataFrame:
    """IVF ANN: probe the nprobe nearest cells per query, exact cosine
    re-rank within probed cells.  Centroids = first n_cells candidate
    vectors by id (deterministic; swap in trained centroids at deploy).

    Plan shape at scale: centroid assignment and probing are shuffle-free
    GEMM projections; the only wide ops are the broadcast of (queries x
    nprobe) probe rows against cell-partitioned candidates and the final
    per-query top-k window over |probed cells| candidates — never the full
    candidate set."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    c = candidates_df.select(
        F.col(cand_id), F.col(vec).cast("array<double>").alias("__v")
    )
    q = queries_df.select(
        F.col(query_id), F.col(vec).cast("array<double>").alias("__qv")
    )
    # centroid list: bounded tiny (n_cells rows) — the collect IS the
    # broadcast; downstream kernels carry it as a task closure.  Injected
    # centroids (ivf_train_centroids) take precedence over the
    # deterministic first-K fallback.
    if centroids is not None:
        cent = sorted((int(cid), list(cv)) for cid, cv in centroids)
    else:
        cent = sorted(
            (r[0], list(r[1])) for r in c.orderBy(cand_id).limit(n_cells).collect()
        )

    assigned = ivf_assign(c, cent, vec="__v")
    probed = _ivf_probe(q, cent, nprobe, vec="__qv")

    pairs = F.broadcast(probed).join(assigned, "__cell").filter(
        F.col(query_id) != F.col(cand_id)
    )

    pair_schema = StructType(
        [
            pairs.schema[query_id],
            pairs.schema[cand_id],
            StructField("cos_sim", DoubleType()),
        ]
    )

    def pair_cos(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {query_id: [], cand_id: [], "cos_sim": []}
                )
                continue
            Q = np.vstack(pdf["__qv"].to_numpy()).astype(np.float64)
            V = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            dots = np.einsum("ij,ij->i", Q, V)
            cos = dots / (np.linalg.norm(Q, axis=1) * np.linalg.norm(V, axis=1))
            yield pd.DataFrame(
                {query_id: pdf[query_id], cand_id: pdf[cand_id], "cos_sim": cos}
            )

    scored = pairs.mapInPandas(pair_cos, pair_schema)
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "rnk")
    )


@query(
    "similarity_ivf",
    oracle="""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), n AS (
  SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e
), cent AS (
  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16
), assign AS (
  SELECT vec_id, cid FROM (
    SELECT a.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_dot_product(a.v, c.cv) / (a.nrm * c.cnrm) DESC, c.cid ASC
           ) AS rn
    FROM n a, cent c
  ) WHERE rn = 1
), probes AS (
  SELECT q_id, cid FROM (
    SELECT q.vec_id AS q_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.cv) / (q.nrm * c.cnrm) DESC, c.cid ASC
           ) AS rn
    FROM n q, cent c WHERE q.vec_id < 8
  ) WHERE rn <= 4
), cands AS (
  SELECT p.q_id, a.vec_id AS c_id
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, c_id, rnk FROM (
  SELECT cd.q_id, cd.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY cd.q_id
           ORDER BY list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm) DESC, cd.c_id ASC
         ) AS rnk
  FROM cands cd
  JOIN n qn ON qn.vec_id = cd.q_id
  JOIN n cn ON cn.vec_id = cd.c_id
) WHERE rnk <= 5
""",
)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN over embeddings: 16 cells, probe 4, top-5 per query for 8
    probe vectors.  The oracle replays identical semantics (same centroid
    choice, same cosine, same tiebreaks) so ids + ranks hash-match."""
    e = t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(F.col("vec_id").alias("q_id"), "embedding")
    cs = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return ivf_topk(qs, cs, n_cells=16, nprobe=4, k=5)


def ivf_train_centroids(
    df: DataFrame,
    vec: str = "embedding",
    k: int = 16,
    seed: int = 42,
    max_iter: int = 8,
) -> list[tuple[int, list[float]]]:
    """Train IVF coarse centroids with MLlib KMeans (seeded — deterministic
    for a fixed input).  Returns [(cid, center)] sorted by cid, the shape
    ivf_topk/ivf_assign consume.  At 100 TB: train on a sample
    (df.sample），not the full corpus — centroid quality converges long
    before full-data passes pay off."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # spherical k-means: train on L2-normalized vectors so euclidean
    # centroids align with the COSINE assignment ivf_assign performs
    # (euclidean on the unit sphere is monotone in cosine; unnormalized
    # training centers near the data mean rank cosines arbitrarily)
    v = F.col(vec).cast("array<double>")
    unit = _unit(v)
    data = df.select(array_to_vector(unit).alias("features"))
    model = KMeans(k=k, seed=seed, maxIter=max_iter).fit(data)
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


# --------------------------------------------------------------------------
# int8 quantization + quantized ANN — the memory lever for 100 TB vector
# search: symmetric per-vector int8 cuts the candidate corpus 4x before an
# index is built, and integer dot products are exact (no FP accumulation
# order to worry about), so the quantized top-k is bit-deterministic and
# fully oracle-replayable.
# --------------------------------------------------------------------------


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8: q_i = round(x_i * 127 / max|x|) (zero
    vector -> zeros).  Pure JVM exprs (transform/array_max), no UDF."""
    maxabs = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    return F.when(
        maxabs == 0.0, F.transform(vec, lambda x: F.lit(0))
    ).otherwise(
        F.transform(
            vec, lambda x: F.round(x.cast("double") * 127.0 / maxabs).cast("int")
        )
    )


def quantized_dot(a: Column, b: Column) -> Column:
    """Exact integer dot product of two int8-quantized vectors (bigint)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("bigint") * y.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def quantized_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    k: int = 5,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    """Top-k by integer dot product over int8-quantized vectors: broadcast
    the (small) quantized query set, scan candidates quantizing inline, one
    window per query for the top-k.  Same no-candidate-shuffle shape as
    brute_force_topk but on 1/4 the bytes and exact integer compares."""
    qs = F.broadcast(
        queries_df.select(query_id, quantize_int8(F.col(vec)).alias("__qv"))
    )
    cs = candidates_df.select(cand_id, quantize_int8(F.col(vec)).alias("__cv"))
    scored = qs.crossJoin(cs).select(
        query_id,
        cand_id,
        quantized_dot(F.col("__qv"), F.col("__cv")).alias("qdot"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("qdot").desc(), F.col(cand_id).asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "qdot", "rnk")
    )


@query(
    "similarity_quantized_topk",
    oracle="""
WITH q8 AS (
  SELECT vec_id,
         CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
              ELSE list_transform(embedding,
                     x -> CAST(round(CAST(x AS DOUBLE) * 127.0 / maxabs) AS BIGINT))
         END AS qv
  FROM (
    SELECT vec_id, embedding,
           list_max(list_transform(embedding, y -> abs(CAST(y AS DOUBLE)))) AS maxabs
    FROM embeddings
  )
), scored AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS qdot
  FROM q8 q JOIN q8 c ON q.vec_id < 8
), ranked AS (
  SELECT q_id, c_id, qdot,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY qdot DESC, c_id ASC) AS rnk
  FROM scored
)
SELECT q_id, c_id, qdot, CAST(rnk AS INTEGER) AS rnk FROM ranked WHERE rnk <= 5
""",
)
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized ANN: top-5 per probe vector by exact integer dot
    product.  Quantization (round half away from zero in both engines) and
    the integer dot are bit-deterministic, so this is a hard hash gate on
    the whole quantize->score->rank path."""
    e = t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cs = e.select(F.col("vec_id").alias("c_id"), "embedding")
    out = quantized_topk(qs, cs, k=5)
    return out.withColumn("rnk", F.col("rnk").cast("int"))


# --------------------------------------------------------------------------
# Product quantization (PQ) ANN — the memory-bound scale path: each
# candidate vector compresses to M sub-codes (M bytes at ks<=256), so a
# 100 TB float corpus becomes a few TB of codes that SCAN instead of
# shuffling; queries score candidates through an M x ks lookup table
# (asymmetric distance computation) and only the per-query shortlist
# re-ranks against exact vectors.  Jegou et al., "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011.
# --------------------------------------------------------------------------


def pq_train_codebooks(
    df: DataFrame,
    vec: str = "__v",
    m: int = 4,
    ks: int = 16,
    seed: int = 42,
    max_iter: int = 8,
    train_sample: int = 4096,
) -> list[list[list[float]]]:
    """Per-subspace Lloyd's-KMeans codebooks over L2-normalized vectors:
    returns [m][ks][sub_dim].  Trains on a BOUNDED deterministic sample
    collected to the driver (hash-ranked ids, <= train_sample rows — the
    same bounded-collect-is-the-broadcast pattern as the IVF centroid
    list): PQ codebook quality converges on a few thousand samples long
    before full-corpus passes pay off, and the numpy fit runs in
    milliseconds where M separate MLlib jobs paid seconds of scheduling
    each (measured 23.7s -> ~1s for the sf0.1 gate).  Deterministic:
    hash-ordered sample, seeded init, fixed iteration count."""
    import numpy as np

    rows = (
        df.select(F.col(vec).alias("v"), F.xxhash64(F.col(vec).cast("string")).alias("h"))
        .orderBy("h")
        .limit(train_sample)
        .collect()
    )
    X = np.array([list(r.v) for r in rows], dtype=np.float64)
    dim = X.shape[1]
    sub = dim // m
    books = []
    for mi in range(m):
        S = X[:, mi * sub : (mi + 1) * sub]
        rng = np.random.RandomState(seed + mi)
        init_idx = rng.choice(len(S), size=min(ks, len(S)), replace=False)
        C = S[np.sort(init_idx)].copy()
        for _ in range(max_iter):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = S[mask].mean(axis=0)
        books.append([[float(x) for x in c] for c in C])
    return books


def pq_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    m: int = 8,
    ks: int = 64,
    k: int = 5,
    rerank_factor: int = 8,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
    codebooks: list | None = None,
    max_queries: int = 1024,
) -> DataFrame:
    """PQ ANN: encode candidates to M sub-codes, score every candidate for
    every query through the per-query ADC table (estimated dot on the unit
    sphere), shortlist k*rerank_factor per query, exact-cosine re-rank.

    Plan shape at scale: encoding + ADC scoring are shuffle-free Arrow
    projections over the candidate scan (the query set and codebooks ride
    as task closures — both bounded); each Arrow batch emits only its own
    per-query shortlist, so the ranking window sees |batches| x Q x R rows
    — never the full candidate set — and exact vectors only travel for the
    shortlist."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    v = F.col(vec).cast("array<double>")
    unit = _unit(v)
    c = candidates_df.select(F.col(cand_id), unit.alias("__v"))
    q = queries_df.select(F.col(query_id), unit.alias("__qv"))

    if codebooks is None:
        codebooks = pq_train_codebooks(c, "__v", m=m, ks=ks)
    B = np.array(codebooks, dtype=np.float64)  # (m, ks, sub)
    sub = B.shape[2]
    # query set must be driver-bounded (ANN serves few probes per call):
    # collect once, ship in the scoring closure — ENFORCED, not assumed
    # (same clamp discipline as Api.call_json): an oversized queries_df
    # fails loudly instead of OOMing the driver
    q_rows = q.orderBy(query_id).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"pq_topk: queries_df exceeds max_queries={max_queries}; "
            "batch the query set or raise max_queries explicitly"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.vstack([np.array(r[1], dtype=np.float64) for r in q_rows])
    # ADC tables: T[qi, mi, code] = dot(q_sub, centroid)
    T = np.einsum("qms,mks->qmk", Q.reshape(len(qids), m, sub), B)
    shortlist = k * rerank_factor

    out_schema = StructType(
        [
            StructField(query_id, LongType()),
            StructField(cand_id, c.schema[cand_id].dataType),
            StructField("est_dot", DoubleType()),
            StructField("__v", ArrayType(DoubleType())),
        ]
    )

    def score_kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            # encode: per subspace, nearest centroid by L2 (ties -> first)
            Vs = V.reshape(len(pdf), m, sub)
            codes = np.empty((len(pdf), m), dtype=np.int64)
            for mi in range(m):
                # same FP expression as the DuckDB oracle's ranking
                # (-2*dot(v,c) + ||c||^2; the per-vector ||v||^2 constant
                # is rank-irrelevant) so near-tie code assignments round
                # the same way in both engines
                d2 = -2.0 * (Vs[:, mi, :] @ B[mi].T) + (
                    B[mi] * B[mi]
                ).sum(axis=1)
                codes[:, mi] = d2.argmin(axis=1)
            # ADC estimate for every query at once: est[n, q]
            est = np.zeros((len(pdf), len(qids)), dtype=np.float64)
            for mi in range(m):
                est += T[:, mi, :][:, codes[:, mi]].T
            # per-batch shortlist per query — bounds what leaves the scan
            rows = []
            cand_ids = pdf[cand_id].to_numpy()
            for qi in range(len(qids)):
                # skip self BEFORE truncating: the batch must emit its top
                # `shortlist` NON-SELF candidates, otherwise a batch holding
                # the query vector contributes one short and the union of
                # batch shortlists stops being a superset of the global one
                emitted = 0
                for j in np.argsort(-est[:, qi], kind="stable"):
                    if cand_ids[j] == qids[qi]:
                        continue
                    rows.append(
                        (int(qids[qi]), cand_ids[j], float(est[j, qi]), V[j])
                    )
                    emitted += 1
                    if emitted >= shortlist:
                        break
            yield pd.DataFrame(rows, columns=[query_id, cand_id, "est_dot", "__v"])

    scored = c.mapInPandas(score_kernel, out_schema)
    w_est = Window.partitionBy(query_id).orderBy(
        F.desc("est_dot"), F.asc(cand_id)
    )
    short = (
        scored.withColumn("__r", F.row_number().over(w_est))
        .filter(F.col("__r") <= shortlist)
        .drop("__r")
    )
    # exact re-rank: broadcast the tiny query frame, JVM-side cosine
    qv = q.select(F.col(query_id), F.col("__qv"))
    joined = short.join(F.broadcast(qv), query_id)
    exact = joined.select(
        query_id,
        cand_id,
        _dot(F.col("__qv"), F.col("__v")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "rnk")
    )


def deterministic_pq_codebooks(
    m: int, ks: int, sub: int, scale: float = 0.25
) -> list[list[list[float]]]:
    """Hash-derived codebook literals (the _plane_coeffs LCG scheme): a
    fixed pseudo-random Voronoi partition per subspace, reproducible across
    runs and ENGINES — what lets the full PQ pipeline carry a value-hash
    oracle.  Production uses pq_train_codebooks (Lloyd-fitted, better
    quantization error); every stage downstream of the codebook is shared."""
    books = []
    for mi in range(m):
        book = []
        for c in range(ks):
            x = ((mi * 1315423911) ^ (c * 2654435761) ^ 0x9E3779B9) & 0xFFFFFFFF
            vec = []
            for _ in range(sub):
                x = (x * 1664525 + 1013904223) & 0xFFFFFFFF
                vec.append((((x >> 8) / float(1 << 24)) * 2.0 - 1.0) * scale)
            book.append(vec)
        books.append(book)
    return books


def _pq_topk_oracle(
    m: int = 8, ks: int = 64, k: int = 5, rerank_factor: int = 8, dim: int = 64
) -> str:
    """DuckDB replay of the ENTIRE PQ pipeline with the deterministic
    codebook literals: unit-normalize, per-subspace nearest-code encode
    (ties to the smaller code index, matching np.argmin), ADC estimated
    dot, global shortlist of k*rerank_factor by (est DESC, id ASC) — the
    per-batch shortlists in the Spark kernel are supersets of the global
    one, so batching never changes it — then exact-cosine re-rank."""
    sub = dim // m
    books = deterministic_pq_codebooks(m, ks, sub)
    rows = []
    for mi in range(m):
        for c in range(ks):
            lits = ", ".join(repr(x) for x in books[mi][c])
            rows.append(f"({mi}, {c}, [{lits}])")
    cb_values = ",\n".join(rows)
    shortlist = k * rerank_factor
    return f"""
WITH cb(mi, code, cv) AS (VALUES {cb_values}),
e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
unit AS (
  SELECT vec_id,
         LIST_TRANSFORM(v, x -> x / SQRT(list_dot_product(v, v))) AS v
  FROM e
),
codes AS (
  SELECT vec_id, mi, code FROM (
    SELECT u.vec_id, cb.mi, cb.code,
           ROW_NUMBER() OVER (
             PARTITION BY u.vec_id, cb.mi
             ORDER BY list_dot_product(
                        u.v[cb.mi * {sub} + 1 : cb.mi * {sub} + {sub}], cb.cv
                      ) * -2 + list_dot_product(cb.cv, cb.cv) ASC,
                      cb.code ASC
           ) AS rk
    FROM unit u CROSS JOIN cb
  ) WHERE rk = 1
),
est AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         SUM(list_dot_product(
               q.v[c.mi * {sub} + 1 : c.mi * {sub} + {sub}], cb.cv
             )) AS est_dot
  FROM codes c
  JOIN cb ON cb.mi = c.mi AND cb.code = c.code
  CROSS JOIN unit q
  WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id
  GROUP BY q.vec_id, c.vec_id
),
short AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (
             PARTITION BY q_id ORDER BY est_dot DESC, c_id ASC
           ) AS rk
    FROM est
  ) WHERE rk <= {shortlist}
)
SELECT q_id, c_id, CAST(rnk AS INT) AS rnk FROM (
  SELECT s.q_id, s.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY s.q_id
           ORDER BY list_dot_product(qu.v, cu.v) DESC, s.c_id ASC
         ) AS rnk
  FROM short s
  JOIN unit qu ON qu.vec_id = s.q_id
  JOIN unit cu ON cu.vec_id = s.c_id
) WHERE rnk <= {k}
"""


@query("similarity_pq_topk", oracle=_pq_topk_oracle())
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN over embeddings (8 subspaces x 64 codes, shortlist 8x, exact
    re-rank): top-5 per query for 8 probe vectors.  The gate runs with
    DETERMINISTIC hash-derived codebooks (deterministic_pq_codebooks) so
    encode, ADC scoring, shortlist and re-rank are all replayed value-exact
    by the DuckDB oracle — graduated from rows-only.  The production
    Lloyd-trained codebook path keeps its recall + full-shortlist-exactness
    pins in tests/test_similarity_pq.py."""
    e = t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cs = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return pq_topk(
        qs, cs, m=8, ks=64, k=5, codebooks=deterministic_pq_codebooks(8, 64, 8)
    )


def ivf_pq_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 64,
    k: int = 5,
    rerank_factor: int = 8,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
    codebooks: list | None = None,
    centroids: list | None = None,
    max_queries: int = 1024,
) -> DataFrame:
    """IVF-PQ: the billion-vector ANN composition (FAISS IndexIVFPQ shape,
    Jegou et al. 2011) — coarse quantizer routes candidates to cells, each
    query probes its nprobe nearest cells, the ADC scan runs ONLY over
    probed cells, and exact cosine re-ranks the shortlist.

    Plan shape at scale: cell assignment and PQ scoring are shuffle-free
    Arrow projections over the candidate scan; the probe map and ADC
    tables ride as task closures (queries and codebooks both
    driver-bounded, enforced).  vs plain pq_topk the scored volume drops
    from |candidates| x Q to sum over probed cells — nprobe/n_cells of the
    corpus per query; vs plain ivf_topk the per-pair exact GEMM is
    replaced by table lookups, with exact vectors traveling only for the
    k*rerank_factor shortlist."""
    import numpy as np

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    v = F.col(vec).cast("array<double>")
    unit = _unit(v)
    c = candidates_df.select(F.col(cand_id), unit.alias("__v"))
    q = queries_df.select(F.col(query_id), unit.alias("__qv"))

    if centroids is not None:
        cent = sorted((int(cid), list(cv)) for cid, cv in centroids)
    else:
        cent = sorted(
            (r[0], list(r[1])) for r in c.orderBy(cand_id).limit(n_cells).collect()
        )
    assigned = ivf_assign(c, cent, vec="__v")
    probed = _ivf_probe(q, cent, nprobe, vec="__qv")

    if codebooks is None:
        codebooks = pq_train_codebooks(c, "__v", m=m, ks=ks)
    B = np.array(codebooks, dtype=np.float64)
    sub = B.shape[2]

    q_rows = q.orderBy(query_id).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"ivf_pq_topk: queries_df exceeds max_queries={max_queries}; "
            "batch the query set or raise max_queries explicitly"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qpos = {int(qid): i for i, qid in enumerate(qids)}
    Q = np.vstack([np.array(r[1], dtype=np.float64) for r in q_rows])
    T = np.einsum("qms,mks->qmk", Q.reshape(len(qids), m, sub), B)
    # probe map: cell -> query positions (bounded: |queries| x nprobe rows)
    cell_queries: dict[int, list[int]] = {}
    for r in probed.select(query_id, "__cell").collect():
        cell_queries.setdefault(int(r[1]), []).append(qpos[int(r[0])])
    shortlist = k * rerank_factor

    out_schema = StructType(
        [
            StructField(query_id, LongType()),
            StructField(cand_id, c.schema[cand_id].dataType),
            StructField("est_dot", DoubleType()),
            StructField("__v", ArrayType(DoubleType())),
        ]
    )

    def score_kernel(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows = []
            for cell, grp in pdf.groupby("__cell"):
                qlist = cell_queries.get(int(cell))
                if not qlist:
                    continue  # cell probed by no query: zero ADC work
                V = np.vstack(grp["__v"].to_numpy()).astype(np.float64)
                Vs = V.reshape(len(grp), m, sub)
                codes = np.empty((len(grp), m), dtype=np.int64)
                for mi in range(m):
                    # oracle-identical FP chain: -2*dot + ||c||^2 (see
                    # pq_topk's kernel note)
                    d2 = -2.0 * (Vs[:, mi, :] @ B[mi].T) + (
                        B[mi] * B[mi]
                    ).sum(axis=1)
                    codes[:, mi] = d2.argmin(axis=1)
                est = np.zeros((len(grp), len(qids)), dtype=np.float64)
                for mi in range(m):
                    est += T[:, mi, :][:, codes[:, mi]].T
                cand_ids = grp[cand_id].to_numpy()
                for qi in qlist:
                    emitted = 0
                    for j in np.argsort(-est[:, qi], kind="stable"):
                        if cand_ids[j] == qids[qi]:
                            continue
                        rows.append(
                            (
                                int(qids[qi]),
                                cand_ids[j],
                                float(est[j, qi]),
                                V[j],
                            )
                        )
                        emitted += 1
                        if emitted >= shortlist:
                            break
            yield pd.DataFrame(
                rows, columns=[query_id, cand_id, "est_dot", "__v"]
            )

    scored = assigned.mapInPandas(score_kernel, out_schema)
    w_est = Window.partitionBy(query_id).orderBy(
        F.desc("est_dot"), F.asc(cand_id)
    )
    short = (
        scored.withColumn("__r", F.row_number().over(w_est))
        .filter(F.col("__r") <= shortlist)
        .drop("__r")
    )
    qv = q.select(F.col(query_id), F.col("__qv"))
    joined = short.join(F.broadcast(qv), query_id)
    exact = joined.select(
        query_id,
        cand_id,
        _dot(F.col("__qv"), F.col("__v")).alias("cos_sim"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        exact.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "rnk")
    )


def _ivf_pq_oracle(
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    ks: int = 64,
    k: int = 5,
    rerank_factor: int = 8,
    dim: int = 64,
) -> str:
    """DuckDB replay of the full IVF-PQ pipeline: unit-normalize, assign to
    the argmax-cosine cell (ties to smaller cid), probe nprobe cells per
    query, PQ-encode only probed-cell candidates, ADC-estimate, shortlist
    (est DESC, id ASC), exact-cosine re-rank."""
    sub = dim // m
    books = deterministic_pq_codebooks(m, ks, sub)
    rows = []
    for mi in range(m):
        for cc in range(ks):
            lits = ", ".join(repr(x) for x in books[mi][cc])
            rows.append(f"({mi}, {cc}, [{lits}])")
    cb_values = ",\n".join(rows)
    shortlist = k * rerank_factor
    return f"""
WITH cb(mi, code, cv) AS (VALUES {cb_values}),
e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
unit AS (
  SELECT vec_id,
         LIST_TRANSFORM(v, x -> x / SQRT(list_dot_product(v, v))) AS v
  FROM e
),
cent AS (SELECT vec_id AS cid, v AS cv FROM unit WHERE vec_id < {n_cells}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT a.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY a.vec_id
             ORDER BY list_dot_product(a.v, c.cv) DESC, c.cid ASC
           ) AS rn
    FROM unit a, cent c
  ) WHERE rn = 1
),
probes AS (
  SELECT q_id, cid FROM (
    SELECT q.vec_id AS q_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.vec_id
             ORDER BY list_dot_product(q.v, c.cv) DESC, c.cid ASC
           ) AS rn
    FROM unit q, cent c WHERE q.vec_id < 8
  ) WHERE rn <= {nprobe}
),
cands AS (
  SELECT p.q_id, a.vec_id AS c_id
  FROM probes p JOIN assign a ON a.cid = p.cid
  WHERE a.vec_id <> p.q_id
),
codes AS (
  SELECT vec_id, mi, code FROM (
    SELECT u.vec_id, cb.mi, cb.code,
           ROW_NUMBER() OVER (
             PARTITION BY u.vec_id, cb.mi
             ORDER BY list_dot_product(
                        u.v[cb.mi * {sub} + 1 : cb.mi * {sub} + {sub}], cb.cv
                      ) * -2 + list_dot_product(cb.cv, cb.cv) ASC,
                      cb.code ASC
           ) AS rk
    FROM unit u CROSS JOIN cb
    WHERE u.vec_id IN (SELECT c_id FROM cands)
  ) WHERE rk = 1
),
est AS (
  SELECT cd.q_id, cd.c_id,
         SUM(list_dot_product(
               q.v[co.mi * {sub} + 1 : co.mi * {sub} + {sub}], cb.cv
             )) AS est_dot
  FROM cands cd
  JOIN codes co ON co.vec_id = cd.c_id
  JOIN cb ON cb.mi = co.mi AND cb.code = co.code
  JOIN unit q ON q.vec_id = cd.q_id
  GROUP BY cd.q_id, cd.c_id
),
short AS (
  SELECT q_id, c_id FROM (
    SELECT q_id, c_id,
           ROW_NUMBER() OVER (
             PARTITION BY q_id ORDER BY est_dot DESC, c_id ASC
           ) AS rk
    FROM est
  ) WHERE rk <= {shortlist}
)
SELECT q_id, c_id, CAST(rnk AS INT) AS rnk FROM (
  SELECT s.q_id, s.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY s.q_id
           ORDER BY list_dot_product(qu.v, cu.v) DESC, s.c_id ASC
         ) AS rnk
  FROM short s
  JOIN unit qu ON qu.vec_id = s.q_id
  JOIN unit cu ON cu.vec_id = s.c_id
) WHERE rnk <= {k}
"""


@query("similarity_ivf_pq_topk", oracle=_ivf_pq_oracle())
def similarity_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition over embeddings (16 cells / probe 4 / 8x64
    deterministic codebooks / shortlist 8x / exact re-rank): top-5 per
    query for 8 probe vectors, ids + ranks hash-matched against the full
    relational replay.  The production path swaps in Lloyd-trained
    codebooks and k-means centroids; every stage downstream is shared."""
    e = t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cs = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return ivf_pq_topk(
        qs, cs, n_cells=16, nprobe=4, m=8, ks=64, k=5,
        codebooks=deterministic_pq_codebooks(8, 64, 8),
    )


# --------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep): for each query,
# the top-k most-similar candidates INSIDE a similarity band (hi bound
# excludes near-duplicates/positives, lo bound excludes easy negatives) —
# the standard batch shape for mining hard negatives.  Same broadcast x
# scan + per-query window as brute_force_topk; the band filter prunes
# before ranking.
# --------------------------------------------------------------------------


def hard_negatives(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    lo: float,
    hi: float,
    k: int = 10,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
) -> DataFrame:
    q = queries_df.select(F.col(query_id), F.col(vec).alias("__qv"))
    c = candidates_df.select(F.col(cand_id), F.col(vec).alias("__cv"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn("cos_sim", cosine(F.col("__qv"), F.col("__cv")))
        .filter((F.col("cos_sim") >= lo) & (F.col("cos_sim") < hi))
        .filter(F.col(query_id) != F.col(cand_id))
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("cos_sim"), F.asc(cand_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(query_id, cand_id, "rnk", "cos_sim")
    )


@query(
    "similarity_hard_negatives",
    oracle="""
WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 8),
c AS (SELECT vec_id AS c_id, embedding AS cv FROM embeddings),
scored AS (
  SELECT q_id, c_id,
         list_dot_product(LIST_TRANSFORM(qv, x -> CAST(x AS DOUBLE)),
                          LIST_TRANSFORM(cv, x -> CAST(x AS DOUBLE)))
         / (SQRT(list_dot_product(LIST_TRANSFORM(qv, x -> CAST(x AS DOUBLE)),
                                  LIST_TRANSFORM(qv, x -> CAST(x AS DOUBLE))))
          * SQRT(list_dot_product(LIST_TRANSFORM(cv, x -> CAST(x AS DOUBLE)),
                                  LIST_TRANSFORM(cv, x -> CAST(x AS DOUBLE)))))
           AS cos_sim
  FROM q, c
)
SELECT q_id, c_id, rnk FROM (
  SELECT q_id, c_id,
         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, c_id ASC)
           AS rnk
  FROM scored
  WHERE cos_sim >= 0.05 AND cos_sim < 0.55 AND q_id <> c_id
) WHERE rnk <= 5
""",
)
def similarity_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 hard negatives per probe inside the [0.05, 0.55) cosine band
    (hi excludes near-positives, lo excludes easy negatives, self
    excluded).  ids + rank compared only — the float similarity stays
    engine-internal, same discipline as similarity_bruteforce_topk."""
    e = t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cs = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return hard_negatives(
        qs, cs, lo=0.05, hi=0.55, k=5, query_id="q_id", cand_id="c_id"
    ).select("q_id", "c_id", "rnk")


# --------------------------------------------------------------------------
# k-NN graph construction: every vector's exact-cosine top-k restricted to
# its LSH sign-bucket — the all-nodes generalization of lsh_topk (which
# broadcasts a small query set).  The bucket SELF-join is the 100 TB shape:
# both sides shuffle once on bucket id, every bucket compares locally, no
# all-pairs blowup (fewer planes -> bigger buckets -> higher recall; the
# plane count is the recall/cost dial).  Downstream consumers: kNN-graph
# dedup sweeps, hard-negative mining, graph-based ANN index seeds.
# --------------------------------------------------------------------------

KNN_PLANES = 6


def knn_graph(
    df: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = KNN_PLANES,
    id_col: str = "vec_id",
    vec: str = "embedding",
    plane_base: int = 0,
) -> DataFrame:
    """(q_id, c_id, rnk) — each vector's top-k same-bucket neighbors by
    exact cosine, ties broken by min neighbor id.  Vectors alone in their
    bucket emit no rows (deterministic; the plane dial controls recall).

    Ranking determinism: scores are quantized to a 2^-30 grid (np.rint)
    BEFORE ordering.  The kernel computes cosine via BLAS GEMM while the
    oracle folds sequentially (list_dot_product); summation order can
    differ in the last ulp, and mathematically-tied neighbors (duplicate
    vectors) would otherwise rank nondeterministically across BLAS builds.
    On the grid, ulp-level divergence collapses to the same value and the
    id tie-break decides — identically in both engines.

    Kernel shape: one Arrow-batched per-bucket GEMM (the
    embedding_cosine_pairs discipline — ~1000x a per-pair expression
    fold; measured 50s -> ~3s at n=60k).  Occupancy-targeted plane
    counts keep each bucket's m x m multiply model-small, so the group
    task never exceeds executor memory."""
    import numpy as np
    import pandas as pd

    # Bucketing via one Arrow GEMM against the stacked plane matrix — the
    # per-plane Catalyst fold (lsh_bucket) is interpreted per element and
    # dominated the banded builds at the bench 30x tier.  The sign
    # semantics (proj >= 0 sets bit p) match lsh_bucket and the oracle's
    # sequential list_dot_product up to summation-order ulp drift, the
    # same accepted risk class as the 2^-30 score grid.
    G = np.asarray(
        [_plane_coeffs(dim, plane_base + p) for p in range(n_planes)]
    )
    powers = (1 << np.arange(n_planes)).astype(np.int64)

    def bucketize(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
            pdf = pdf.copy()
            pdf["__b"] = ((V @ G.T) >= 0.0) @ powers
            yield pdf

    side = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec).cast("array<double>").alias("__v"),
    ).mapInPandas(bucketize, "__id long, __v array<double>, __b long")

    def topk(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"q_id": [], "c_id": [], "rnk": []}).astype(
                {"q_id": "int64", "c_id": "int64", "rnk": "int32"}
            )
        ids = pdf["__id"].to_numpy()
        v = np.vstack(pdf["__v"].to_numpy()).astype(np.float64)
        nrm = np.linalg.norm(v, axis=1)
        c = (v @ v.T) / np.outer(nrm, nrm)
        # 2^-30 quantization grid — see the docstring's determinism note.
        # (DESC cos, ASC id) as ONE int64 composite key so the whole
        # bucket ranks with vectorized argpartition instead of a per-row
        # Python lexsort loop (the loop dominated the 30x tier: m lexsorts
        # of m elements per bucket): key = ci * 2^shift + (m-1 - id_rank)
        # — id_rank (dense rank of the id within the bucket) keeps the
        # tie-term < 2^shift for any id magnitude, so the key cannot
        # overflow and equal-ci rows order by ascending id, exactly the
        # oracle's tie-break.
        ci = np.rint(c * 1073741824.0).astype(np.int64)
        shift = int(m).bit_length()
        id_rank = np.empty(m, dtype=np.int64)
        id_rank[np.argsort(ids, kind="stable")] = np.arange(m)
        key = (ci << shift) + (m - 1 - id_rank)[None, :]
        # negation-safe sentinel: -int64.min wraps back to int64.min, which
        # would rank SELF first under argpartition(-key); min//2 negates
        # cleanly and still sits below any real key (|key| < 2^61)
        np.fill_diagonal(key, np.iinfo(np.int64).min // 2)
        kk = min(k, m - 1)
        part = np.argpartition(-key, kk - 1, axis=1)[:, :kk]
        ord2 = np.argsort(np.take_along_axis(-key, part, axis=1),
                          axis=1, kind="stable")
        top = np.take_along_axis(part, ord2, axis=1)
        return pd.DataFrame(
            {"q_id": np.repeat(ids.astype("int64"), kk),
             "c_id": ids[top.ravel()].astype("int64"),
             "rnk": np.tile(np.arange(1, kk + 1, dtype="int32"), m)}
        )

    return side.groupBy("__b").applyInPandas(
        topk, schema="q_id long, c_id long, rnk int"
    )


def _knn_graph_oracle(dim: int = 64, k: int = 5, n_planes: int = KNN_PLANES) -> str:
    """Replays the sign-bucket self-join with the same plane literals
    (the _lsh_bucketed_oracle technique, all nodes, self excluded)."""
    bits = []
    for p in range(n_planes):
        lits = ", ".join(repr(c) for c in _plane_coeffs(dim, p))
        bits.append(
            f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    bucket_sql = " + ".join(bits)
    return f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (
  SELECT vec_id, v, {bucket_sql} AS bkt,
         SQRT(list_dot_product(v, v)) AS nrm
  FROM e
),
ranked AS (
  SELECT q.vec_id AS q_id, c.vec_id AS c_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY ROUND(list_dot_product(q.v, c.v) / (q.nrm * c.nrm)
                          * 1073741824.0, 0) DESC,
                    c.vec_id ASC
         ) AS rnk
  FROM b q JOIN b c ON q.bkt = c.bkt AND q.vec_id != c.vec_id
)
SELECT q_id, c_id, CAST(rnk AS INT) AS rnk FROM ranked WHERE rnk <= {k}
"""


@query("similarity_knn_graph", oracle=_knn_graph_oracle())
def similarity_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-plane bucketed k-NN graph (k=5) over the embeddings table — the
    all-nodes bucket self-join; oracle replays the identical prune."""
    return knn_graph(t(spark, sf_dir, "embeddings"), dim=64, k=5)


# --------------------------------------------------------------------------
# Graph-structured ANN: deterministic NSW-style greedy beam search over a
# banded k-NN graph (Malkov et al., "Navigable Small World"; the HNSW
# base-layer search shape).  The one industry-standard ANN family the
# IVF/PQ/LSH gates don't cover: build a neighborhood graph once, answer
# queries by walking it — no cells, no codebooks.
#
# Determinism/oracle strategy: the graph is the UNION of n_bands
# independent plane-banded knn_graph builds (band b uses hyperplanes
# [b*n_planes, (b+1)*n_planes) from the same deterministic stream), which
# gives the walk cross-bucket navigability a single banding cannot (one
# band's edges never leave its bucket).  Entry points are the n_entry
# nodes with the smallest portable fmix32 hash of their id; each hop
# expands the frontier by its graph neighbors, scores exact cosine on the
# 2^-30 grid (knn_graph's determinism note), and keeps the top `beam` per
# query — a FIXED hop count, so DuckDB replays the entire walk with
# unrolled CTEs.  Frontier refinement is monotone (the frontier is always
# a candidate next hop), so more hops never lose a found neighbor.
#
# Plan shape at 100 TB: the expensive part is the banded graph build
# (knn_graph's per-bucket Arrow GEMM, occupancy-dialed planes) and one
# corpus-side vector fetch per hop (broadcast of the model-small frontier
# against the partitioned candidate scan — queries x beam x graph_k rows,
# driver-bounded by max_queries).  The walk state itself never exceeds
# queries x beam rows.
# --------------------------------------------------------------------------

_SEARCH_GRID = 1073741824.0  # 2^30 — same score grid as knn_graph




def graph_search_topk(
    queries_df: DataFrame,
    candidates_df: DataFrame,
    dim: int,
    graph_k: int = 5,
    n_planes: int = KNN_PLANES,
    n_bands: int = 2,
    n_hubs: int = 16,
    n_entry: int = 4,
    beam: int = 8,
    hops: int = 3,
    k: int = 5,
    query_id: str = "q_id",
    cand_id: str = "c_id",
    vec: str = "embedding",
    max_queries: int = 1024,
) -> DataFrame:
    """(q_id, c_id, rnk): greedy beam search over the hub-augmented k-NN
    graph.  beam is the recall dial (HNSW's ef); hops bounds the walk.

    Graph = three deterministic edge families, symmetrized:
    - SHORT links: n_bands independent plane-banded knn_graph builds
      (band b uses hyperplanes [b*n_planes, (b+1)*n_planes)) — each
      node's true local neighborhood.
    - LONG links: every node links to its max-cosine hub among the
      n_hubs nodes with the smallest portable fmix32(id) (hash-elected,
      corpus-independent), and the hubs form a complete graph among
      themselves.  This is the navigability NSW gets from insertion-order
      long links: any node reaches any hub in <= 2 hops, and the hub
      nearest a query's neighborhood routes the walk there.
    Entry points are the first n_entry hubs (same hash order), so the
    walk starts on the long-link layer and descends: hop 1 sees all hubs,
    hop 2 the best hubs' member sets, hop 3 refines through knn links.
    Frontier refinement is monotone (the frontier always remains a
    candidate next hop), so more hops never lose a found neighbor; all
    scoring is exact cosine on the 2^-30 grid (knn_graph's determinism
    note), ties to the smaller id — identical in the DuckDB replay.

    Plan shape at 100 TB: the banded builds are per-bucket Arrow GEMMs
    (occupancy-dialed planes); hub assignment is one shuffle-free
    ivf_assign projection (hub matrix rides as a task closure, n_hubs
    driver-bounded); the walk itself joins a broadcast frontier
    (queries x beam rows, max_queries-capped) against the corpus once
    per hop."""
    import numpy as np

    from moosestack_spark.operators.aggregates import fmix32_expr

    if hops < 1:
        raise ValueError("graph_search_topk: hops must be >= 1")
    if n_bands < 1:
        raise ValueError("graph_search_topk: n_bands must be >= 1")
    n_q = queries_df.limit(max_queries + 1).count()
    if n_q > max_queries:
        raise ValueError(
            f"graph_search_topk: queries_df exceeds max_queries="
            f"{max_queries}; batch the query set or raise max_queries"
        )

    # One materialization of (id, cast vector, norm): every downstream
    # consumer — hub election, both banded knn builds, hub assignment and
    # the per-hop exact scoring — re-reads this instead of re-scanning the
    # source and re-deriving the cast + norm (5+ scans before; model-small
    # at n x dim doubles, the graph checkpoint discipline below).
    vecs = (
        candidates_df.select(
            F.col(cand_id).alias("__node"),
            F.col(vec).cast("array<double>").alias("__v"),
        )
        .withColumn("__n", _norm(F.col("__v")))
        .localCheckpoint()
    )
    spark = candidates_df.sparkSession

    # hash-elected hubs (driver-bounded: n_hubs rows, the IVF-centroid
    # collect discipline)
    hub_rows = (
        vecs.withColumn("__h", F.expr(fmix32_expr("__node")))
        .orderBy(F.asc("__h"), F.asc("__node"))
        .limit(n_hubs)
        .select("__node", "__v")
        .collect()
    )
    hubs = [(int(r[0]), list(r[1])) for r in hub_rows]
    hub_ids = [h for h, _ in hubs]

    # SHORT links: banded knn (built from the checkpointed projection, so
    # each band pays only its own bucketing + per-bucket GEMM)
    edges = None
    for band in range(n_bands):
        e = knn_graph(
            vecs, dim, k=graph_k, n_planes=n_planes,
            id_col="__node", vec="__v", plane_base=band * n_planes,
        ).select(F.col("q_id").alias("src"), F.col("c_id").alias("dst"))
        edges = e if edges is None else edges.union(e)
    # LONG links: node -> nearest hub (shuffle-free Arrow argmax over the
    # hub matrix — exact ties to the smaller hub id, as in ivf_assign)
    hub_sorted = sorted(hubs)
    to_hub = (
        ivf_assign(vecs.select("__node", "__v"), hub_sorted, vec="__v",
                   out_col="__hub")
        .filter(F.col("__node") != F.col("__hub"))
        .select(
            F.col("__node").alias("src"),
            F.col("__hub").cast("long").alias("dst"),
        )
    )
    # LONG links: complete graph among hubs (n_hubs^2 rows, tiny)
    hubhub = spark.createDataFrame(
        [(a, b) for a in hub_ids for b in hub_ids if a != b],
        "src long, dst long",
    )
    sym_base = edges.union(to_hub).union(hubhub)
    sym = (
        sym_base.union(
            sym_base.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        # one materialization: the walk joins the graph every hop, and
        # the banded GEMM build must not re-run per hop (graph_bfs
        # discipline)
        .localCheckpoint()
    )

    ent = spark.createDataFrame(
        [(h,) for h in hub_ids[:n_entry]], "__node long"
    )
    qv = queries_df.select(
        F.col(query_id), F.col(vec).cast("array<double>").alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))

    # frontier_0 = the first n_entry hubs, self excluded (tiny cross:
    # queries x n_entry, both driver-bounded)
    frontier = (
        qv.select(query_id)
        .crossJoin(F.broadcast(ent))
        .filter(F.col("__node") != F.col(query_id))
    )

    ranked = None
    for hop in range(hops):
        expanded = sym.join(
            F.broadcast(frontier), sym["src"] == frontier["__node"]
        ).select(frontier[query_id], sym["dst"].alias("__node"))
        cand_h = (
            frontier.union(expanded)
            .distinct()
            .filter(F.col("__node") != F.col(query_id))
        )
        scored = (
            vecs.join(F.broadcast(cand_h), "__node")
            .join(F.broadcast(qv), query_id)
            .select(
                F.col(query_id),
                F.col("__node"),
                F.rint(
                    _dot(F.col("__qv"), F.col("__v"))
                    / (F.col("__qn") * F.col("__n"))
                    * F.lit(_SEARCH_GRID)
                ).alias("__s"),
            )
        )
        w = Window.partitionBy(query_id).orderBy(
            F.desc("__s"), F.asc("__node")
        )
        ranked = scored.withColumn("__r", F.row_number().over(w))
        frontier = ranked.filter(F.col("__r") <= beam).select(
            query_id, "__node"
        )
        # Lineage truncation per hop (guide §5; VERDICT r12 #7): cand_h
        # references the previous frontier TWICE (union + expansion), so
        # a lazy walk duplicates each earlier hop's scoring subtree
        # ~2^hops times in the final plan.  The frontier is tiny
        # (queries x beam, both driver-bounded), so materializing it
        # between hops costs one small job and makes every hop's scoring
        # run exactly once.  The last hop stays lazy — the caller's
        # action computes it, and a checkpoint here would just run the
        # same scoring twice.
        if hop < hops - 1:
            # LAZY checkpoint: materializes inside the next action's job
            # (no per-hop blocking barrier), then both of cand_h's
            # references read the persisted blocks instead of recomputing
            # the subtree.  The EAGER variant was measured 1.4x SLOWER at
            # the 30x tier (median 15.9 s vs 11.3 s, spread 3.1x vs 1.4x,
            # interleaved A/B in BENCH_r13_interleave_graphsearch.json):
            # its hops-1 synchronous checkpoint jobs serialized the walk
            # and beat the recompute they saved, since Spark's exchange
            # reuse already deduplicated most of the lazy plan's repeated
            # subtrees at execution time.
            frontier = frontier.localCheckpoint(eager=False)
    return ranked.filter(F.col("__r") <= k).select(
        F.col(query_id),
        F.col("__node").alias(cand_id),
        F.col("__r").cast("int").alias("rnk"),
    )


def _graph_search_oracle(
    dim: int = 64,
    graph_k: int = 5,
    n_planes: int = KNN_PLANES,
    n_bands: int = 2,
    n_hubs: int = 16,
    n_entry: int = 4,
    beam: int = 8,
    hops: int = 3,
    k: int = 5,
) -> str:
    """Full relational replay of the walk: banded knn edges, fmix32 hub
    election, nearest-hub + hub-clique long links, `hops` unrolled
    frontier-expansion rounds, final top-k."""
    from moosestack_spark.operators.aggregates import fmix32_duckdb_ctes

    band_ctes, edge_sels = [], []
    for band in range(n_bands):
        bits = []
        for p in range(n_planes):
            lits = ", ".join(
                repr(c) for c in _plane_coeffs(dim, band * n_planes + p)
            )
            bits.append(
                f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 "
                f"THEN {1 << p} ELSE 0 END)"
            )
        bucket_sql = " + ".join(bits)
        band_ctes.append(
            f"bk{band} AS (SELECT vec_id, v, nrm, {bucket_sql} AS bkt FROM b),\n"
            f"r{band} AS (\n"
            f"  SELECT q.vec_id AS src, c.vec_id AS dst,\n"
            f"         ROW_NUMBER() OVER (\n"
            f"           PARTITION BY q.vec_id\n"
            f"           ORDER BY ROUND(list_dot_product(q.v, c.v)\n"
            f"                    / (q.nrm * c.nrm) * 1073741824.0, 0) DESC,\n"
            f"                    c.vec_id ASC) AS rnk\n"
            f"  FROM bk{band} q JOIN bk{band} c\n"
            f"    ON q.bkt = c.bkt AND q.vec_id != c.vec_id)"
        )
        edge_sels.append(f"SELECT src, dst FROM r{band} WHERE rnk <= {graph_k}")
    edge_sels.append(
        "SELECT n.vec_id AS src, a.hub AS dst FROM assign a "
        "JOIN b n ON n.vec_id = a.vec_id WHERE n.vec_id <> a.hub"
    )
    edge_sels.append(
        "SELECT h1.node AS src, h2.node AS dst FROM hubs h1 "
        "CROSS JOIN hubs h2 WHERE h1.node <> h2.node"
    )
    hop_ctes = []
    prev = "f0"
    for h in range(1, hops + 1):
        hop_ctes.append(
            f"c{h} AS (SELECT q_id, node FROM {prev}\n"
            f"         UNION\n"
            f"         SELECT f.q_id, s.dst AS node FROM {prev} f\n"
            f"         JOIN sym s ON s.src = f.node WHERE s.dst <> f.q_id),\n"
            f"s{h} AS (SELECT c.q_id, c.node,\n"
            f"                ROUND(list_dot_product(qq.v, bb.v)\n"
            f"                / (qq.nrm * bb.nrm) * 1073741824.0, 0) AS sc\n"
            f"         FROM c{h} c JOIN b bb ON bb.vec_id = c.node\n"
            f"         JOIN q qq ON qq.q_id = c.q_id),\n"
            f"f{h} AS (SELECT q_id, node FROM (\n"
            f"           SELECT q_id, node, ROW_NUMBER() OVER (\n"
            f"             PARTITION BY q_id ORDER BY sc DESC, node ASC) AS r\n"
            f"           FROM s{h}) WHERE r <= {beam})"
        )
        prev = f"f{h}"
    bands_sql = ",\n".join(band_ctes)
    edges_sql = " UNION ".join(f"({s})" for s in edge_sels)
    hops_sql = ",\n".join(hop_ctes)
    fmix_sql = fmix32_duckdb_ctes("vec_id", "vec_id", "e")
    return f"""
WITH e AS (
  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
b AS (SELECT vec_id, v, SQRT(list_dot_product(v, v)) AS nrm FROM e),
{bands_sql},
{fmix_sql},
hubs AS (SELECT vec_id AS node FROM hashed
         ORDER BY h32 ASC, vec_id ASC LIMIT {n_hubs}),
assign AS (
  SELECT vec_id, hub FROM (
    SELECT n.vec_id, h.node AS hub,
           ROW_NUMBER() OVER (
             PARTITION BY n.vec_id
             ORDER BY list_dot_product(n.v, hb.v) / (n.nrm * hb.nrm) DESC,
                      h.node ASC) AS rn
    FROM b n CROSS JOIN hubs h JOIN b hb ON hb.vec_id = h.node
  ) WHERE rn = 1
),
edges AS ({edges_sql}),
sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
q AS (SELECT vec_id AS q_id, v, nrm FROM b WHERE vec_id < 8),
f0 AS (SELECT q.q_id, en.node FROM q CROSS JOIN
       (SELECT vec_id AS node FROM hashed
        ORDER BY h32 ASC, vec_id ASC LIMIT {n_entry}) en
       WHERE en.node <> q.q_id),
{hops_sql}
SELECT q_id, node AS c_id, CAST(r AS INT) AS rnk FROM (
  SELECT q_id, node, ROW_NUMBER() OVER (
    PARTITION BY q_id ORDER BY sc DESC, node ASC) AS r
  FROM s{hops}) WHERE r <= {k}
"""


@query("similarity_graph_search", oracle=_graph_search_oracle())
def similarity_graph_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NSW-style beam search over the hub-augmented 2-band 6-plane k-NN
    graph: top-5 per query for 8 probe vectors via 16 hash-elected hubs,
    4 entries, beam 8, 3 hops — ids + ranks hash-matched against the full
    unrolled-CTE replay."""
    e = t(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    cs = e.select(F.col("vec_id").alias("c_id"), "embedding")
    return graph_search_topk(
        qs, cs, dim=64, graph_k=5, n_planes=KNN_PLANES, n_bands=2,
        n_hubs=16, n_entry=4, beam=8, hops=3, k=5,
    )
