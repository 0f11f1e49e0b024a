"""Similarity search over embedding columns (``array<float>``).

- ``cosine_topk``: brute-force top-k neighbors for a query set. The
  query side broadcasts; the corpus never shuffles. All vector math is
  JVM higher-order functions (``zip_with`` + ``aggregate``) — no UDF.
  Cost is O(|queries| × |corpus|): correct as a baseline and as the
  verify stage of an ANN pipeline.
- ``lsh_bucket_topk``: random-hyperplane LSH — deterministic
  hyperplanes (integer-mixed, engine-reproducible), sign-bit bucket
  key, then top-k within bucket. The bucket equi-join replaces the
  cross product, which is the 100 TB scale path (same shape as an IVF
  coarse quantizer with hyperplane cells).

Similarities are rounded BEFORE ranking so rank order is identical in
any engine computing the same rounded values.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pos_pipeline_core_etl_spark.functions.rounding import hround
from pos_pipeline_core_etl_spark.operators.common import ensure_parallelism

N_PLANES = 8
PLANE_MIX = 2654435761  # Knuth multiplicative constant
PLANE_MOD = 2**32
CENT_MIX = 2246822519  # xxhash PRIME32_2 — distinct stream from PLANE_MIX
IVF_N_CLUSTERS = 16
IVF_NPROBE = 2
# The near-dup bucket self-join is O(bucket²) per bucket; a degenerate
# corpus (many identical vectors in one hyperplane cell) would explode a
# single join cell. Buckets above this cap are excluded from pair
# expansion (see embedding_bucket_overflow); the SQL oracles apply the
# same constant so capped results stay exact.
EMB_MAX_BUCKET = 10000


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    na, nb = l2norm(a), l2norm(b)
    return F.when((na == 0) | (nb == 0), F.lit(None).cast("double")).otherwise(
        dot(a, b) / (na * nb)
    )


def cosine_prenormed(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with norms precomputed per VECTOR (not per pair).

    Higher-order array functions are interpreted per element; computing
    each row's norm once before the pair join instead of inside it cuts
    the per-pair lambda work to the dot product alone (~3×). The norm
    bits are identical (same left fold), so results match :func:`cosine`
    exactly.
    """
    return F.when((na == 0) | (nb == 0), F.lit(None).cast("double")).otherwise(
        dot(a, b) / (na * nb)
    )


def cosine_topk(
    embeddings: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine neighbors for each query vector (vec_id < n_queries)."""
    from pyspark.sql import Window

    # single-file corpora otherwise run the per-pair interpreted HOF dot
    # products on ONE task (no-op on multi-file inputs at real scale)
    embeddings = ensure_parallelism(embeddings, id_col)

    corpus = embeddings.select(
        F.col(id_col).alias("cand_id"), _as_double(F.col(vec_col)).alias("cvec")
    ).withColumn("cnorm", l2norm(F.col("cvec")))
    queries = (
        embeddings.where(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec"))
        .withColumn("qnorm", l2norm(F.col("qvec")))
    )
    sims = (
        corpus.join(F.broadcast(queries), F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            hround(
                cosine_prenormed(
                    F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("cnorm")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "cand_id", "cos_sim")
    )


def l2_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k per query vector — the brute-force ground
    truth for the IVF-PQ recall audit (same metric as ADC scoring, so
    recall@k measures exactly what the approximate index trades away).
    Broadcast the bounded query set, fold the distance map-side, one
    per-query window for the rank — the verify twin, not the scale
    path."""
    from pyspark.sql import Window

    embeddings = ensure_parallelism(embeddings, id_col)
    corpus = embeddings.select(
        F.col(id_col).alias("cand_id"), _as_double(F.col(vec_col)).alias("cvec")
    )
    queries = embeddings.where(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("qvec"), F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sims = corpus.join(
        F.broadcast(queries), F.col("cand_id") != F.col("query_id")
    ).select("query_id", "cand_id", hround(d2, 6).alias("d2"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cand_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "cand_id", "d2")
    )


def plane_component(plane: int, comp: Column | int, dim: int = 64) -> Column:
    """Deterministic pseudo-random hyperplane component in [-1, 1).

    v = ((mix · (plane·dim + comp + 1)) mod 2³²) / 2³¹ − 1 — pure
    integer mixing then one exact float division, identical in SQL.
    """
    idx = F.lit(plane * dim) + comp + 1
    mixed = (F.lit(PLANE_MIX) * idx) % F.lit(PLANE_MOD)
    return mixed / F.lit(float(2**31)) - 1.0


def _plane_component_sql(plane: int, dim: int) -> str:
    """Spark-SQL text of :func:`plane_component` with lambda var ``i``."""
    return (
        f"((({PLANE_MIX}L * ({plane * dim} + i + 1)) % {PLANE_MOD}L)"
        " / 2147483648.0D - 1.0D)"
    )


def lsh_bucket_sql(vec_sql: str, dim: int = 64, n_planes: int = N_PLANES) -> str:
    """Spark-SQL text of :func:`lsh_bucket` over a vector SQL expression.

    One parsed expression instead of ~n_planes × dim py4j Column calls —
    same plan, ~0.4 s less driver-side construction per invocation."""
    bits = []
    for p in range(n_planes):
        proj = (
            f"aggregate(zip_with({vec_sql}, sequence(0, {dim - 1}),"
            f" (x, i) -> x * {_plane_component_sql(p, dim)}),"
            " 0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {proj} > 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def lsh_bucket(vec: Column | str, dim: int = 64, n_planes: int = N_PLANES) -> Column:
    """Sign-bit bucket id from n deterministic hyperplanes. Pass the
    vector as SQL text (column name / expression) for the cheap parsed
    form; a Column keeps the original builder for ad-hoc callers."""
    if isinstance(vec, str):
        return F.expr(lsh_bucket_sql(vec, dim, n_planes))
    bucket = None
    for p in range(n_planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda x, i: x * plane_component(p, i, dim),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit = F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("long")


def lsh_buckets(embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    embeddings = ensure_parallelism(embeddings, id_col)
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        lsh_bucket(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("bucket"),
    )


def ivf_centroids(
    embeddings: DataFrame,
    k: int = 16,
    sample_max_id: int = 256,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Deterministic coarse quantizer: Lloyd k-means on a BOUNDED sample.

    Standard IVF practice — the quantizer trains on a fixed-size sample
    (collected to the driver; size independent of corpus scale), then
    assignment/search run distributively. Init = the first k sample
    vectors by id; float64 numpy; fixed iteration count → deterministic.
    """
    sample = (
        embeddings.where(F.col(id_col) < sample_max_id)
        .orderBy(id_col)
        .select(vec_col)
        .collect()
    )
    X = np.array([r[0] for r in sample], dtype=np.float64)
    cents = X[:k].copy()
    for _ in range(iters):
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                cents[j] = members.mean(axis=0)
    return cents


def ivf_assign(embeddings: DataFrame, centroids, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Assign every vector to its nearest centroid — Arrow-vectorized
    pandas UDF (one matmul per batch, centroids travel in the closure)."""
    cents = centroids.copy()

    @F.pandas_udf(T.IntegerType())
    def nearest(v: pd.Series) -> pd.Series:
        X = np.stack(v.to_numpy())
        d2 = (X**2).sum(1)[:, None] - 2 * X @ cents.T + (cents**2).sum(1)[None, :]
        return pd.Series(d2.argmin(axis=1).astype("int32"))

    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        _as_double(F.col(vec_col)).alias("vec"),
        nearest(F.col(vec_col)).alias("cluster"),
    )


def ivf_search_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    nprobe: int = 2,
    n_clusters: int = 16,
) -> DataFrame:
    """IVF search: probe the query's ``nprobe`` nearest clusters only.

    Candidates join on the cluster id (equi-join — the cross product
    shrinks by ~n_clusters/nprobe); exact cosine re-ranks within.

    Probe selection is DISTRIBUTED (VERDICT r11 #5 — the pre-r12 form
    collected the query vectors and python-looped probes under a
    10k-query cap): the query batch cross-joins the broadcast
    ``n_clusters``-row centroid table and a per-query window keeps the
    ``nprobe`` nearest — the same shape as
    :func:`ivfpq_score_candidates`, so the cap is gone and a
    corpus-sized query batch is just a bigger relational plan, never a
    driver OOM.  The only driver collect left is the bounded quantizer
    training sample inside :func:`ivf_centroids` (≤256 rows by
    construction).  The probe/query frames scale with the request
    batch, so they carry NO forced broadcast hint — AQE broadcasts
    genuinely small batches on its own (the r12 hint-audit rule).
    """
    from pyspark.sql import Window

    cents = ivf_centroids(embeddings, k=n_clusters)
    assigned = ivf_assign(embeddings, cents).withColumn("norm", l2norm(F.col("vec")))

    spark = embeddings.sparkSession
    cents_df = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster int, centroid array<double>",
    )
    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    qd2 = F.aggregate(
        F.zip_with(
            F.col("qvec"), F.col("centroid"), lambda x, y: (x - y) * (x - y)
        ),
        F.lit(0.0),
        lambda s, d: s + d,
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("cd2").asc(), F.col("cluster").asc()
    )
    probe_df = (
        queries.crossJoin(F.broadcast(cents_df))
        .select("query_id", "cluster", qd2.alias("cd2"))
        .withColumn("pr", F.row_number().over(pw))
        .where(F.col("pr") <= nprobe)
        .select("query_id", "cluster")
    )

    cands = (
        assigned.join(probe_df, "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(queries, "query_id")
    )
    sims = cands.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        hround(
            cosine_prenormed(F.col("qvec"), F.col("vec"), F.col("qnorm"), F.col("norm")),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("cand_id").asc())
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "cand_id", "cos_sim")
    )


def centroid_component(cluster: int, comp: Column | int, dim: int = 64) -> Column:
    """Deterministic pseudo-random centroid component in [-1, 1) — same
    integer-mixing construction as :func:`plane_component` but on the
    ``CENT_MIX`` stream, so the fixed coarse quantizer is reproducible in
    any engine (the SQL oracle generates identical components)."""
    idx = F.lit(cluster * dim) + comp + 1
    mixed = (F.lit(CENT_MIX) * idx) % F.lit(PLANE_MOD)
    return mixed / F.lit(float(2**31)) - 1.0


def centroid_d2(vec: Column | str, cluster: int, dim: int = 64) -> Column:
    """Squared L2 distance to fixed centroid ``cluster`` — sequential
    left fold, bit-identical across engines. A str ``vec`` uses the
    parsed-SQL fast path (one py4j call instead of ~dim)."""
    if isinstance(vec, str):
        c = (
            f"((({CENT_MIX}L * ({cluster * dim} + i + 1)) % {PLANE_MOD}L)"
            " / 2147483648.0D - 1.0D)"
        )
        return F.expr(
            f"aggregate(zip_with({vec}, sequence(0, {dim - 1}),"
            f" (x, i) -> (x - {c}) * (x - {c})),"
            " 0.0D, (acc, x) -> acc + x)"
        )
    return F.aggregate(
        F.zip_with(
            vec,
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda x, i: (x - centroid_component(cluster, i, dim))
            * (x - centroid_component(cluster, i, dim)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_fixed_search_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    nprobe: int = IVF_NPROBE,
    n_clusters: int = IVF_N_CLUSTERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF search against a FIXED (pretrained-style) coarse quantizer.

    FAISS-standard deployment shape: the quantizer is trained offline and
    shipped as a table; here it is a deterministic integer-mixed literal
    grid so the whole search — assignment, probe selection, candidate
    join, re-rank — is one relational plan with an exact SQL twin (no
    driver collect at all, unlike the sample-trained
    :func:`ivf_search_topk` whose quantizer is checked by recall tests).

    Assignment is ``least()`` over (d², cluster) structs — codegen, no
    explode, no extra shuffle. Candidates join on cluster id (equi-join;
    the cross product shrinks ~n_clusters/nprobe); exact cosine re-ranks.
    """
    from pyspark.sql import Window

    base = ensure_parallelism(embeddings, id_col).select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("vec")
    )
    d2_structs = [
        F.struct(centroid_d2("vec", c).alias("d"), F.lit(c).alias("c"))
        for c in range(n_clusters)
    ]
    assigned = base.select(
        "vec_id",
        "vec",
        F.least(*d2_structs).getField("c").alias("cluster"),
    ).withColumn("norm", l2norm(F.col("vec")))

    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    probe_structs = [
        F.struct(centroid_d2("qvec", c).alias("d"), F.lit(c).alias("c"))
        for c in range(n_clusters)
    ]
    probes = queries.select(
        "query_id",
        F.explode(
            F.slice(F.array_sort(F.array(*probe_structs)), 1, nprobe)
        ).alias("pc"),
    ).select("query_id", F.col("pc.c").alias("cluster"))

    cands = (
        assigned.join(F.broadcast(probes), "cluster")
        .where(F.col("vec_id") != F.col("query_id"))
        .join(F.broadcast(queries), "query_id")
    )
    sims = cands.select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        hround(
            cosine_prenormed(
                F.col("qvec"), F.col("vec"), F.col("qnorm"), F.col("norm")
            ),
            6,
        ).alias("cos_sim"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", F.col("rnk").cast("long").alias("rnk"), "cand_id", "cos_sim")
    )


def lsh_bucket_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN: top-k cosine within the query's LSH bucket (equi-join, no
    cross product — the shuffle key is the bucket id)."""
    from pyspark.sql import Window

    base = (
        ensure_parallelism(embeddings, id_col).select(
            F.col(id_col).alias("vid"),
            _as_double(F.col(vec_col)).alias("vec"),
        )
        .withColumn("bucket", lsh_bucket("vec"))
        .withColumn("norm", l2norm(F.col("vec")))
    )
    queries = base.where(F.col("vid") < n_queries).select(
        F.col("vid").alias("query_id"),
        F.col("vec").alias("qvec"),
        F.col("bucket").alias("qbucket"),
        F.col("norm").alias("qnorm"),
    )
    cands = base.select(
        F.col("vid").alias("cand_id"), F.col("vec").alias("cvec"), "bucket", "norm"
    )
    sims = (
        cands.join(
            F.broadcast(queries),
            (F.col("bucket") == F.col("qbucket"))
            & (F.col("cand_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            "cand_id",
            hround(
                cosine_prenormed(
                    F.col("qvec"), F.col("cvec"), F.col("qnorm"), F.col("norm")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("cand_id").asc()
    )
    return (
        sims.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("query_id", "rnk", "cand_id", "cos_sim")
    )


def embedding_neardup(
    embeddings: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate detection, LSH-blocked.

    Scale path: the all-pairs O(n²) cross product is replaced by an
    equi-self-join on the hyperplane-LSH bucket (one shuffle keyed by
    bucket; bucket population ~n/2^planes keeps each join cell small).
    Within a bucket, pairs (a < b) with rounded cosine ≥ threshold are
    duplicates; survivorship is single-pass keep-min-id — each dup row
    records its smallest matching partner (transitive closure would
    need an iterative connected-components pass; references run this
    one-shot per batch too).

    ``threshold`` is 0.95-ish on real corpora; the synthetic test
    embeddings are near-orthogonal (max pairwise cosine ≈ 0.51), so the
    default is set low to exercise the path with non-trivial output.
    """
    sims = embedding_neardup_pairs(embeddings, threshold, id_col, vec_col)
    return sims.groupBy("dup_id").agg(
        F.min("keep_cand").alias("keep_id"),
        F.max("cos_sim").alias("best_sim"),
        F.count(F.lit(1)).cast("long").alias("n_matches"),
    )


# pandas UDF closures (ivf_assign) ship to executors — serialize by value
from pos_pipeline_core_etl_spark.functions.serde import register_self as _register_self  # noqa: E402

_register_self(__name__)


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = EMB_MAX_BUCKET,
) -> DataFrame:
    """LSH-blocked near-dup pair stage shared by keep-min-id
    (:func:`embedding_neardup`) and connected-components survivorship:
    (keep_cand < dup_id, cos_sim ≥ threshold). Buckets over
    ``max_bucket_size`` are excluded from the self-join (degenerate-
    corpus guard — see :func:`embedding_bucket_overflow`); ``None``
    disables the cap."""
    base = (
        ensure_parallelism(embeddings, id_col).select(
            F.col(id_col).alias("vid"), _as_double(F.col(vec_col)).alias("vec")
        )
        .withColumn("bucket", lsh_bucket("vec"))
        .withColumn("norm", l2norm(F.col("vec")))
    )
    if max_bucket_size is not None:
        # bounded by construction: the sign-bit bucket domain is at most
        # 2^n_planes (= 256 at N_PLANES=8) rows regardless of corpus
        # size, so the forced broadcast cannot scale with the data
        # (r12 hint audit — contrast hist_quantiles_grouped's per-group
        # bounds, which DO scale with the group domain)
        ok = (
            base.groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("_bn"))
            .where(F.col("_bn") <= max_bucket_size)
            .select("bucket")
        )
        base = base.join(F.broadcast(ok), ["bucket"])
    left = base.select(
        F.col("vid").alias("keep_cand"), F.col("vec").alias("lvec"), "bucket",
        F.col("norm").alias("lnorm"),
    )
    right = base.select(
        F.col("vid").alias("dup_id"), F.col("vec").alias("rvec"), "bucket",
        F.col("norm").alias("rnorm"),
    )
    pairs = left.join(right, ["bucket"]).where(F.col("keep_cand") < F.col("dup_id"))
    return pairs.select(
        "dup_id",
        "keep_cand",
        hround(
            cosine_prenormed(
                F.col("lvec"), F.col("rvec"), F.col("lnorm"), F.col("rnorm")
            ),
            6,
        ).alias("cos_sim"),
    ).where(F.col("cos_sim") >= F.lit(threshold))


def embedding_bucket_overflow(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int = EMB_MAX_BUCKET,
) -> DataFrame:
    """Hyperplane buckets the near-dup pair stage skipped:
    (bucket, n_vecs) for every bucket over ``max_bucket_size``. Empty on
    healthy corpora; non-empty means exact-dedup the vectors first (or
    raise the cap / add planes)."""
    return (
        embeddings.select(
            _as_double(F.col(vec_col)).alias("vec")
        )
        .withColumn("bucket", lsh_bucket("vec"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .where(F.col("n_vecs") > max_bucket_size)
    )


def embedding_neardup_components(
    embeddings: DataFrame,
    threshold: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Transitive-closure survivorship over the near-dup pair graph:
    every vector in a duplicate chain maps to its component's min id."""
    from pos_pipeline_core_etl_spark.operators.dedup import connected_components

    pairs = embedding_neardup_pairs(embeddings, threshold, id_col, vec_col)
    comps = connected_components(pairs, src="keep_cand", dst="dup_id")
    return comps.select(
        F.col("id").cast("long").alias("vec_id"),
        F.col("component_id").cast("long").alias("component_id"),
    )


def quantize_int8(
    embeddings: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/transfer
    format ANN indexes ship at scale (4× smaller than float32, 8× than
    the doubles Spark computes in).

    Per vector: ``scale = max|x| / 127``; ``q_i = hround0(x_i / scale)``
    ∈ [-127, 127] (hround0 = the repo's engine-identical half-away
    rounding, so Spark and DuckDB produce the SAME codes); zero vectors
    quantize to all-zero codes. Returns integer checksums of the code
    vector (order-insensitive integer sums — engine-robust) plus the
    reconstruction MSE, rather than 64 code columns.

    Scale shape: pure map-side projection over the embedding column —
    ZERO shuffles; all folds are JVM higher-order functions.
    """
    base = embeddings.select(F.col(id_col), _as_double(F.col(vec_col)).alias("v"))
    with_scale = base.select(
        id_col,
        "v",
        F.aggregate(
            F.transform(F.col("v"), F.abs),
            F.lit(0.0),
            lambda acc, x: F.greatest(acc, x),
        ).alias("maxabs"),
    ).withColumn("scale", F.col("maxabs") / F.lit(127.0))
    coded = with_scale.withColumn(
        "q",
        F.when(
            F.col("maxabs") == 0,
            F.transform(F.col("v"), lambda x: F.lit(0).cast("long")),
        ).otherwise(
            F.transform(
                F.col("v"),
                lambda x: (
                    F.signum(x / F.col("scale"))
                    * F.floor(F.abs(x / F.col("scale")) + F.lit(0.5))
                ).cast("long"),
            )
        ),
    )
    err2 = F.aggregate(
        F.zip_with(
            F.col("v"),
            F.col("q"),
            lambda x, qi: (x - qi.cast("double") * F.col("scale"))
            * (x - qi.cast("double") * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return coded.select(
        F.col(id_col),
        F.col("maxabs"),
        F.aggregate(F.col("q"), F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.aggregate(
            F.transform(F.col("q"), F.abs), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("q_l1"),
        (err2 / F.size(F.col("v"))).alias("mse"),
    )


# ---------------------------------------------------------------------------
# distributed Lloyd k-means (round-4 second pass)

KMEANS_K = 8
KMEANS_ITERS = 2
KMEANS_QUANT = 1 << 20  # component quantization for order-free integer sums


def _quantize_vec(vec: Column, quant: int = KMEANS_QUANT) -> Column:
    """Element-wise floor(x*Q + 0.5) as BIGINT — hround-style, identical
    IEEE arithmetic in any engine, so per-cluster component sums become
    exact integer math with no float-accumulation-order sensitivity."""
    return F.transform(
        _as_double(vec),
        lambda x: F.floor(x * F.lit(float(quant)) + F.lit(0.5)).cast("long"),
    )


def kmeans_lloyd(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
) -> DataFrame:
    """Fully-distributed Lloyd k-means assignments (vec_id, cluster).
    Thin wrapper over :func:`_kmeans_assignments`, which also carries
    the per-row squared distance for :func:`kmeans_sse`."""
    assigned = _kmeans_assignments(embeddings, k, iters, id_col, vec_col, quant)
    return assigned.select("vec_id", F.col("cluster").cast("long").alias("cluster"))


SEMDEDUP_THRESHOLD = 0.3


def semdedup(
    embeddings: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means clusters bound the pairwise leg, then
    exact cosine WITHIN each cluster marks semantic near-duplicates;
    survivorship is keep-min-id (the repo-wide canonicalization
    contract).  Output at the duplicate grain, mirroring
    :func:`embedding_neardup`: (dup_id, cluster, keep_id, best_sim,
    n_matches) — one row per vector that has a more-canonical semantic
    twin in its cluster.

    Where :func:`embedding_neardup` blocks by hyperplane-LSH bucket
    (cheap, recall limited by bucket splits), this blocks by LEARNED
    clusters — the published recipe for pruning web-scale training
    corpora, and the natural consumer of the :func:`kmeans_lloyd`
    machinery already in the repo (same integer-quantized assignments,
    so cluster membership is bit-exact cross-engine; cosines compare
    after hround(6)).

    Scale shape: one kmeans (map-side assign + keyed agg per iter), one
    self-join keyed by cluster.  At 100 TB you raise k so clusters stay
    join-cell-sized (the paper uses k ~ sqrt(n)); a skewed cluster is
    the same failure mode as an LSH bucket overflow and takes the same
    cap-and-audit treatment — the threshold here is measured against
    the synthetic near-orthogonal corpus (within-cluster p99.9 cosine
    ~0.41 at both SFs; 0.3 keeps real non-vacuous output) the way
    embedding_neardup's 0.2 is.

    r12 optimization (guide §2.4/§5): the original vector rides through
    the map-side k-means assignment (``with_vec`` — zero extra shuffle;
    the centroid-update legs prune it), which deletes the
    embeddings ⨝ assigned re-attach join, and the shared
    (vec_id, cluster, vec, norm) frame is localCheckpoint'ed so the
    training chain runs ONCE instead of once per side of the cluster
    self-join (the before plan re-ran the whole Lloyd subtree on both
    sides: 20 parquet scans of embeddings vs 2 after —
    plans/r12/docs_semdedup_{before,after}.txt). At 100 TB this stage
    boundary is a table write; same topology.  A single-file corpus
    otherwise runs the per-pair interpreted cosines on ONE task
    (measured 5.6 executor-seconds single-threaded at sf0.1) —
    ``ensure_parallelism`` spreads it across cores, a no-op on
    multi-file inputs at real scale."""
    embeddings = ensure_parallelism(embeddings, id_col)
    assigned = _kmeans_assignments(
        embeddings, k, iters, id_col, vec_col, with_vec=True
    )
    base = (
        assigned.select(
            "vec_id", F.col("cluster").cast("long").alias("cluster"), "vec"
        )
        .withColumn("norm", l2norm(F.col("vec")))
        .localCheckpoint(eager=False)
    )
    # Join-cell salting (guide §2.5): hash(cluster) has only k distinct
    # values, so the self-join's heavy per-pair cosine work lands on at
    # most k tasks — and AQE's BYTE-based coalescing then merges those
    # nearly-empty-by-bytes partitions into one, serializing a
    # compute-bound stage (measured: the whole pair leg ran as a single
    # 2.8 s task).  Split every cluster cell into n_blocks sub-cells by
    # a DETERMINISTIC hash of the left id (guide §2.5 warns off rand()
    # under retries); the right side replicates n_blocks×.  Scale-
    # adaptive: n_blocks = parallelism // k, so a production run with
    # k ~ sqrt(n) clusters (cells already ≪ tasks) gets n_blocks = 1 —
    # no replication, the plan is exactly the unsalted one.
    n_blocks = max(1, base.sparkSession.sparkContext.defaultParallelism // k)
    left = base.select(
        F.col("vec_id").alias("keep_cand"),
        F.col("cluster"),
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias("blk"),
        F.col("vec").alias("lvec"),
        F.col("norm").alias("lnorm"),
    )
    right = base.select(
        F.col("vec_id").alias("dup_id"),
        F.col("cluster"),
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
        F.col("vec").alias("rvec"),
        F.col("norm").alias("rnorm"),
    )
    # The rounded cosine is evaluated ONCE per pair, in this projection.
    # The threshold deliberately lives in the aggregation below, NOT in
    # a .where() here: a filter on cos_sim would be pushed into the
    # join condition with the alias substituted, and hround's
    # signum/floor legs already reference the fold twice — the before
    # plan evaluated the 64-element interpreted fold 4× per pair
    # (plans/r12/docs_semdedup_before.txt join condition).
    pairs = (
        left.join(right, ["cluster", "blk"])
        .where(F.col("keep_cand") < F.col("dup_id"))
        .select(
            "dup_id",
            "cluster",
            "keep_cand",
            hround(
                cosine_prenormed(
                    F.col("lvec"), F.col("rvec"), F.col("lnorm"), F.col("rnorm")
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    # Threshold as conditional aggregates (same results: groups whose
    # pairs all fail the threshold have n_matches = 0 and are dropped —
    # exactly the groups the filter-then-agg form never created).  The
    # partial agg runs in the join stage, so sub-threshold pairs still
    # never cross a shuffle.
    hit = F.col("cos_sim") >= F.lit(threshold)
    return (
        pairs.groupBy("dup_id", "cluster")
        .agg(
            F.min(F.when(hit, F.col("keep_cand"))).alias("keep_id"),
            F.max(F.when(hit, F.col("cos_sim"))).alias("best_sim"),
            F.count(F.when(hit, F.lit(1))).cast("long").alias("n_matches"),
        )
        .where(F.col("n_matches") > 0)
    )


def _kmeans_assignments(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    with_centroids: bool = False,
    with_vec: bool = False,
) -> DataFrame:
    """Fully-distributed Lloyd k-means over the ENTIRE corpus with zero
    driver collection: the input prep for :func:`_lloyd` with no group
    keys (one packed centroid row, cross-joined as a broadcast).  Unlike
    :func:`ivf_centroids` (numpy Lloyd on a BOUNDED driver-side sample —
    the coarse-quantizer path), this is the shape a 100 TB run needs.

    Seeds are the k lowest-id vectors; the seed's vec_id IS the cluster
    label (labels need only be distinct + ordered for the tie-break;
    avoids a row_number over an unpartitioned window).

    ``with_vec=True`` additionally carries the ORIGINAL (double) vector
    through to the returned assignment as ``vec`` — free, because the
    assignment is a map-side broadcast fold (no shuffle touches the
    row) and the centroid-update legs project it away; consumers that
    need vector + cluster (semdedup's within-cluster cosine) skip the
    embeddings ⨝ assignments re-attach join entirely (guide §2.4).

    ``with_centroids=True`` also returns the centroids the FINAL
    assignment was computed against — what an IVF index stores
    alongside its lists."""
    base = _quantized_base(embeddings, id_col, vec_col, quant, with_vec)
    seeds = (
        base.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("cluster"),
            F.transform(F.col("vq"), lambda x: x / F.lit(float(quant))).alias(
                "centroid"
            ),
        )
    )
    carry = ("vec",) if with_vec else ()
    assigned, cents = _lloyd(base, seeds, (), iters, quant, carry)
    return (assigned, cents) if with_centroids else assigned


def _quantized_base(
    embeddings: DataFrame,
    id_col: str,
    vec_col: str,
    quant: int,
    with_vec: bool = False,
) -> DataFrame:
    """(vec_id, vq[, vec]): the integer-quantized vectors k-means trains
    and assigns on, optionally with the original double vector."""
    carry = [_as_double(F.col(vec_col)).alias("vec")] if with_vec else []
    return embeddings.select(
        F.col(id_col).alias("vec_id"),
        _quantize_vec(F.col(vec_col), quant).alias("vq"),
        *carry,
    )


def _lloyd(
    base: DataFrame,
    seeds: DataFrame,
    keys: tuple[str, ...],
    iters: int,
    quant: int,
    carry: tuple[str, ...] = (),
    ckpt=lambda df: df,
) -> tuple[DataFrame, DataFrame]:
    """The one Lloyd trainer behind k-means and product quantization.

    ``base`` holds (vec_id, *keys, vq, *carry) with ``vq`` an array of
    quantized integers; ``seeds`` holds (*keys, cluster, centroid).  The
    group ``keys`` train one codebook per key value in the same plan:
    ``()`` is k-means, ``("sub",)`` is PQ (one codebook per subspace —
    k-means is PQ with one subspace).  Per iteration:

    - pack: the centroids of each key go into ONE sorted array row
      (:func:`_pack`), broadcast to every vector — a cross join for
      ``()``, an equi-join on the keys otherwise; no N × k join;
    - assign: a map-side argmin over that array (:func:`_assign`);
    - update: posexplode to (keys, cluster, component, value) and one
      keyed hash-agg — the only data-sized shuffle, with map-side
      partials; k·dim rows per key (:func:`_update`).

    ``ckpt`` is applied to the centroids each assignment reads (PQ's
    ``reuse`` passes a lazy localCheckpoint; identity otherwise).
    Returns ``(assigned, centroids)``: the final assignment (vec_id,
    *keys, vq, *carry, cluster, d2) and the centroids that PRODUCED it
    — the post-loop update is never seen by any assignment.

    Determinism contract: vectors are quantized to integers once, so
    centroid numerators are exact integer sums (order-free) and every
    distance is computed from identical rationals in both engines —
    assignments are bit-exact cross-engine, ties broken by lowest
    cluster id.  Empty clusters keep their previous centroid."""
    if iters < 1:
        # iters=0 would fall through the loop with assigned=None and
        # crash downstream in a confusing select (ADVICE r4)
        raise ValueError(f"iters must be >= 1, got {iters}")
    centroids = seeds
    for _ in range(iters):
        at_assign = ckpt(centroids)
        assigned = _assign(base, _pack(at_assign, keys), keys, quant, carry)
        centroids = _update(assigned, at_assign, keys, quant)
    return assigned, at_assign


def _pack(centroids: DataFrame, keys: tuple[str, ...]) -> DataFrame:
    """k rows per key -> ONE row per key holding the sorted centroids."""
    return centroids.groupBy(*keys).agg(
        F.array_sort(F.collect_list(F.struct("cluster", "centroid"))).alias(
            "cents"
        )
    )


def _assign(
    base: DataFrame,
    packed: DataFrame,
    keys: tuple[str, ...],
    quant: int,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Map-side argmin of every ``vq`` over its key's broadcast
    centroid array; adds ``cluster`` and its squared distance ``d2``.

    r12 (guide §1.2 per-task work + §7.3 driver planning): ONE
    ``F.expr`` — ``array_min`` over per-centroid (d2, cluster) structs —
    instead of a Column-API fold whose when-branch duplicated the d2
    subtree and whose ``best["cluster"]`` / ``best["d2"]`` extractions
    each re-evaluated the whole fold.  d2 is computed once per centroid
    and the struct once per row (the extractions read a materialized
    attribute in a separate projection).  array_min's lexicographic
    struct ordering == a strict-< fold over sorted cents: lowest d2,
    ties to the lowest cluster id.  The SQL string also collapses ~2.6 s
    of per-call py4j lambda construction into one parse (the dedup.py
    F.expr precedent)."""
    if keys:
        joined = base.join(F.broadcast(packed), list(keys))
    else:
        joined = base.crossJoin(F.broadcast(packed))
    qf = float(quant)
    best = F.expr(
        f"array_min(transform(cents, c -> named_struct("
        f"'d2', aggregate(zip_with(transform(vq, x -> x / {qf}D),"
        f" c.centroid, (x, y) -> (x - y) * (x - y)),"
        f" 0.0D, (s, d) -> s + d),"
        f"'cluster', c.cluster)))"
    )
    cols = ["vec_id", *keys, "vq", *carry]
    staged = joined.select(*cols, best.alias("best"))
    return staged.select(
        *cols,
        F.col("best.cluster").alias("cluster"),
        F.col("best.d2").alias("d2"),
    )


def _update(
    assigned: DataFrame,
    prev: DataFrame,
    keys: tuple[str, ...],
    quant: int,
) -> DataFrame:
    """Exact integer component sums -> new centroids; empty clusters
    inherit the previous centroid."""
    grp = [*keys, "cluster"]
    comp = assigned.select(*grp, F.posexplode(F.col("vq")).alias("comp", "val"))
    fresh = (
        comp.groupBy(*grp, "comp")
        .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
        .withColumn("mean", F.col("s") / (F.col("n") * F.lit(float(quant))))
        .groupBy(*grp)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("comp", "mean"))),
                lambda st: st["mean"],
            ).alias("centroid")
        )
    )
    return (
        prev.select(*grp, F.col("centroid").alias("prev_centroid"))
        .join(fresh, grp, "left")
        .select(*grp, F.coalesce("centroid", "prev_centroid").alias("centroid"))
    )


def assign_to_centroids(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
) -> DataFrame:
    """Assign vectors to GIVEN centroids (no training): the serving /
    monitoring half of :func:`_lloyd` — score a NEW snapshot against
    centroids trained on an old one (embedding-drift monitoring), or
    route fresh vectors into an existing index.  The trainer's own pack
    + assign, so the same determinism contract holds (quantized
    integers, ties to the lowest cluster id); zero shuffles."""
    base = _quantized_base(embeddings, id_col, vec_col, quant)
    assigned = _assign(base, _pack(centroids, ()), (), quant)
    return assigned.select("vec_id", "cluster")


# ---------------------------------------------------------------------------
# product quantization (Jégou, Douze & Schmid, "Product Quantization for
# Nearest Neighbor Search", TPAMI 2011) — round 5

PQ_M = 8          # subspaces (64-d vector → 8 subvectors of 8 dims)
PQ_K = 8          # codewords per subspace (real deployments use 256)
PQ_ITERS = 2      # Lloyd iterations per subspace codebook
# ADC shortlist size for the exact re-rank (refine) stage. 64 is the
# r7 sweep-measured default (sim_ivfpq_recall_sweep): at fixed nprobe=2
# the move 32 -> 64 buys +0.10 recall@3 at sf0.01 (0.77 -> 0.87) and
# +0.17 at sf0.1 (0.50 -> 0.67) for a shortlist-sized join only;
# deeper shortlists plateau, and the >= 0.9 region requires probing
# every coarse list (a full-corpus ADC scan — not an IVF operating
# point on this cluster count). The remaining recall gap is quantizer
# resolution (KMEANS_K / PQ_K), not shortlist depth.
IVFPQ_REFINE = 64


def pq_encode(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    dim: int = 64,
) -> DataFrame:
    """Product-quantization codes: per-subspace k-means codebooks
    trained on the FULL corpus, every vector encoded as ``m`` codebook
    ids → (vec_id, sub, code). PQ compresses a 64-d float vector to
    ``m * log2(k)`` bits while supporting asymmetric distance search —
    the memory layer under billion-scale ANN (IVF-PQ).

    Trained by :func:`_lloyd` keyed by ``sub``: the subspace id joins
    the centroid broadcast instead of a cross join, slicing is map-side
    (one explode → m subvector rows per vector), and each Lloyd
    iteration is ONE keyed hash-agg on (sub, cluster, component) for
    all ``m`` codebooks simultaneously — codebooks don't train
    sequentially, the shuffle count is independent of ``m``.  With
    ``m=1`` this is :func:`kmeans_lloyd`.  Same integer-quantization
    determinism contract: bit-exact cross-engine.
    """
    _base, assigned, _cents = _pq_fit(
        embeddings, m, k, iters, id_col, vec_col, quant, dim
    )
    return assigned.select(
        "vec_id", "sub", F.col("cluster").cast("long").alias("code")
    )


def _pq_fit(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    dim: int = 64,
    reuse: bool = False,
):
    """PQ training internals, the input prep for :func:`_lloyd` keyed
    by ``sub``: returns ``(base, assigned, centroids)`` where base =
    (vec_id, sub, vq quantized subvectors), assigned = the final
    per-subspace assignment (with each subvector's ``d2`` to its
    codeword), centroids = the codebooks that PRODUCED that assignment
    (what ADC search must look distances up against).

    ``reuse=True`` lazily localCheckpoints base / per-iteration
    centroids / the final assignment — for callers that fan the
    returned frames into several consumers (ADC tables, IVF-PQ's
    residual pipeline), where plan re-execution otherwise
    multiplies the training cost (measured 6× on IVF-PQ at sf0.1).
    Single-consumer encoding leaves it off: materialization costs more
    than the one extra lazy pass."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    sub_d = dim // m
    qf = float(quant)

    vq = _quantize_vec(F.col(vec_col), quant)
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(vq, s * sub_d + 1, sub_d).alias("vq"),
            )
            for s in range(m)
        ]
    )
    ckpt = (lambda df: df.localCheckpoint(eager=False)) if reuse else (lambda df: df)
    base = ckpt(
        embeddings.select(
            F.col(id_col).alias("vec_id"), F.explode(subs).alias("x")
        ).select("vec_id", F.col("x.sub").alias("sub"), F.col("x.vq").alias("vq"))
    )

    # seed codebooks: the k lowest-id vectors' subvectors (TakeOrdered +
    # broadcast join — no per-subspace window sort over the corpus)
    seed_ids = embeddings.select(F.col(id_col).alias("vec_id")).orderBy("vec_id").limit(k)
    seeds = base.join(F.broadcast(seed_ids), "vec_id").select(
        "sub",
        F.col("vec_id").alias("cluster"),
        F.transform(F.col("vq"), lambda x: x / F.lit(qf)).alias("centroid"),
    )
    # under reuse, the m×k-row centroid checkpoint collapses the
    # per-iteration plan nesting so consumers of (assigned, centroids)
    # don't re-run the whole training chain per reference
    assigned, cents = _lloyd(base, seeds, ("sub",), iters, quant, ckpt=ckpt)
    return base, ckpt(assigned), cents


def pq_adc_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over PQ codes — the
    query side of :func:`pq_encode` and the scan IVF-PQ runs inside
    each probed list (Jégou et al. 2011 §IV): per query, one distance
    TABLE of m × n_codes exact query-to-codeword distances, then every
    candidate is scored as a sum of m table lookups — never a
    full-dimension distance per candidate.

    Scale shape: the distance table (n_queries × m × n_codes rows) is
    a broadcast; scoring is a broadcast equi-join on (sub, code) plus
    ONE keyed agg on (query, candidate) — linear in corpus × queries
    with O(m) work per candidate; top-k is a per-query window over
    k-bounded rows. Determinism: per-candidate sums left-fold the m
    partials in subspace order (sorted collect_list), so doubles are
    bit-exact cross-engine; ranking uses the unrounded sum with a
    candidate-id tie-break.
    """
    base, assigned, cents = _pq_fit(
        embeddings, m, n_codes, iters, id_col, vec_col, quant, dim, reuse=True
    )
    qf = float(quant)
    qsubs = base.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        "sub",
        F.transform(F.col("vq"), lambda x: x / F.lit(qf)).alias("qv"),
    )
    pd2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, d: s + d,
    )
    dtab = qsubs.join(cents, "sub").select("query_id", "sub", "cluster", pd2.alias("pd2"))
    scored = (
        assigned.join(F.broadcast(dtab), ["sub", "cluster"])
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("sub", "pd2"))),
                F.lit(0.0),
                lambda acc, x: acc + x["pd2"],
            ).alias("adc_d2")
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "rnk",
            F.col("vec_id").alias("cand_id"),
            hround(F.col("adc_d2"), 6).alias("adc_d2"),
        )
    )


def pq_sse(
    embeddings: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    dim: int = 64,
) -> DataFrame:
    """PQ training diagnostics: per-subspace vector count and
    reconstruction SSE (distance from each subvector to its assigned
    codeword) — the quantization-distortion number you watch when
    choosing m and k. Same plan as the encoder plus one tiny agg over
    the trainer's (sub, d2); SSE hround(4)-ed (per-row d2 is exact
    shared arithmetic, only the cross-row sum can differ in the last
    bits — kmeans_sse convention)."""
    _base, assigned, _cents = _pq_fit(
        embeddings, m, k, iters, id_col, vec_col, quant, dim, reuse=True
    )
    return (
        assigned.groupBy("sub")
        .agg(F.count(F.lit(1)).alias("n_vecs"), hround(F.sum("d2"), 4).alias("sse"))
        .select(F.col("sub").cast("int").alias("sub"), "n_vecs", "sse")
        .orderBy("sub")
    )


def kmeans_sse(
    embeddings: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
) -> DataFrame:
    """Training diagnostics for :func:`kmeans_lloyd`: per-cluster size
    and within-cluster SSE (inertia) of the final assignment against
    the centroids that PRODUCED it — the number you watch per iteration
    to decide convergence. Same plan as the trainer plus one tiny agg
    over (cluster, d2); SSE is hround(4)-ed (per-row d2 is exact shared
    arithmetic; only the cross-row sum could differ in the last bits).
    """
    assigned = _kmeans_assignments(embeddings, k, iters, id_col, vec_col, quant)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            hround(F.sum("d2"), 4).alias("sse"),
        )
        .select(F.col("cluster").cast("long").alias("cluster"), "n_vecs", "sse")
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# IVF-PQ — the full billion-scale ANN architecture (Jégou et al. 2011
# §V): fixed coarse quantizer partitions the corpus into inverted
# lists, residuals (vector − coarse centroid) are product-quantized,
# search probes nprobe lists and scores candidates by ADC over the
# query's RESIDUAL in each probed list.


def _residual_expr(dim: int = 64, vec: str = "vec") -> str:
    """SQL expr: vector minus the fixed coarse centroid of the row's
    ``cluster`` column (the same integer-mixed literal family as
    centroid_d2, with cluster as a column instead of a literal)."""
    comp = (
        f"((({CENT_MIX}L * (CAST(cluster AS BIGINT) * {dim} + i + 1))"
        f" % {PLANE_MOD}L) / 2147483648.0D - 1.0D)"
    )
    return f"zip_with({vec}, sequence(0, {dim - 1}), (x, i) -> x - {comp})"


def ivfpq_search_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    nprobe: int = IVF_NPROBE,
    n_clusters: int = IVF_N_CLUSTERS,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ top-k: coarse-assign every vector to a fixed-quantizer
    inverted list, product-quantize the RESIDUALS, probe each query's
    ``nprobe`` nearest lists and ADC-score only their members — the
    composition that holds a billion vectors in RAM (m·log2(k) bits
    each) while touching ~nprobe/n_clusters of the corpus per query.

    Everything is one relational plan (fixed quantizer = literal grid,
    no driver collect): coarse assignment is a codegen ``least()`` over
    literal distances; residuals are a map-side zip_with; PQ training
    is the shared :func:`_pq_fit` (one keyed agg per iteration);
    scoring joins a broadcast (query × probed-list × sub × code)
    distance table and folds per-candidate sums in subspace order —
    bit-exact cross-engine, same discipline as :func:`pq_adc_topk`."""
    base = ensure_parallelism(embeddings, id_col).select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("vec")
    )
    d2_structs = [
        F.struct(centroid_d2("vec", c).alias("d"), F.lit(c).alias("c"))
        for c in range(n_clusters)
    ]
    # coarse assignment costs n_clusters × dim folds per row and fans
    # out four ways (residuals, list map, query leg, probes) — run once
    assigned = base.select(
        "vec_id", "vec", F.least(*d2_structs).getField("c").alias("cluster")
    ).localCheckpoint(eager=False)
    resid = assigned.select(
        "vec_id", "cluster", F.expr(_residual_expr(dim)).alias("resid")
    )
    _rbase, rassigned, rcents = _pq_fit(
        resid.select("vec_id", F.col("resid").alias("embedding")),
        m,
        n_codes,
        iters,
        quant=quant,
        dim=dim,
        reuse=True,
    )
    codes = rassigned.select("vec_id", "sub", F.col("cluster").alias("code"))
    coarse = assigned.select("vec_id", F.col("cluster").alias("coarse"))

    queries = assigned.where(F.col("vec_id") < n_queries)
    probe_structs = [
        F.struct(centroid_d2("vec", c).alias("d"), F.lit(c).alias("c"))
        for c in range(n_clusters)
    ]
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        "vec",
        F.explode(
            F.slice(F.array_sort(F.array(*probe_structs)), 1, nprobe)
        ).alias("pc"),
    ).select("query_id", "vec", F.col("pc.c").alias("cluster"))

    qf = float(quant)
    qres = probes.select(
        "query_id",
        F.col("cluster").alias("pcluster"),
        _quantize_vec(F.expr(_residual_expr(dim)), quant).alias("rvq"),
    )
    sub_d = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.transform(
                    F.slice(F.col("rvq"), s * sub_d + 1, sub_d),
                    lambda x: x / F.lit(qf),
                ).alias("qv"),
            )
            for s in range(m)
        ]
    )
    qsubs = qres.select(
        "query_id", "pcluster", F.explode(subs).alias("x")
    ).select("query_id", "pcluster", F.col("x.sub").alias("sub"), F.col("x.qv").alias("qv"))
    pd2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, d: s + d,
    )
    dtab = qsubs.join(rcents, "sub").select(
        "query_id",
        "pcluster",
        F.col("sub").alias("dsub"),
        F.col("cluster").alias("dcode"),
        pd2.alias("pd2"),
    )

    scored = (
        codes.join(coarse, "vec_id")
        .join(
            F.broadcast(dtab),
            (F.col("coarse") == F.col("pcluster"))
            & (F.col("sub") == F.col("dsub"))
            & (F.col("code") == F.col("dcode")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("sub", "pd2"))),
                F.lit(0.0),
                lambda acc, x: acc + x["pd2"],
            ).alias("adc_d2")
        )
    )
    from pyspark.sql import Window

    from pos_pipeline_core_etl_spark.functions.rounding import hround

    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "rnk",
            F.col("vec_id").alias("cand_id"),
            hround(F.col("adc_d2"), 6).alias("adc_d2"),
        )
    )


class IvfPqIndex(NamedTuple):
    """A TRAINED IVF-PQ index: the four frames every query batch reuses
    plus the quantization parameters they were built with.  This is the
    deployment boundary the amortization argument rests on (VERDICT r10
    #8): Lloyd + PQ training is paid ONCE per corpus snapshot; each
    query batch pays only the probe → ADC → refine path against these
    frames.  ``ivfpq_build_index(eager=True)`` materializes them so a
    ladder (or a real serving loop) can price the two legs separately.

    - ``assigned``: (vec_id, vq, cluster) — the inverted-list map plus
      the original quantized vectors the refine stage reranks against;
    - ``cents``: (cluster, centroid) — learned coarse centroids,
      n_clusters rows, broadcast into every probe join;
    - ``codes``: (vec_id, sub, code) — residual PQ codes, m rows per
      vector;
    - ``rcents``: (sub, cluster, centroid) — PQ codebooks, m×n_codes
      rows, the ADC distance tables' lookup side."""

    assigned: DataFrame
    cents: DataFrame
    codes: DataFrame
    rcents: DataFrame
    quant: int
    dim: int
    m: int


def ivfpq_build_index(
    embeddings: DataFrame,
    n_clusters: int = KMEANS_K,
    coarse_iters: int = KMEANS_ITERS,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    dim: int = 64,
    eager: bool = False,
) -> IvfPqIndex:
    """Train-once half of the learned-quantizer IVF-PQ: full-corpus
    Lloyd coarse quantizer → residual PQ codebooks → per-vector codes.
    Everything corpus-sized lives here; nothing depends on the queries.

    ``eager=False`` (the composed single-query-batch path, e.g. the
    registered ``sim_ivfpq_kmeans_topk``) keeps the checkpoints lazy so
    the first action pays training exactly once.  ``eager=True``
    materializes all four index frames immediately — the serving shape,
    and what lets the scale ladder time train vs query honestly."""
    base = ensure_parallelism(embeddings, id_col)
    assigned, cents = _kmeans_assignments(
        base,
        k=n_clusters,
        iters=coarse_iters,
        id_col=id_col,
        vec_col=vec_col,
        quant=quant,
        with_centroids=True,
    )
    # the assignment fans out 4 ways (residuals, list map, query leg,
    # probes) and the centroid frame 3 ways — materialize both once
    assigned = assigned.localCheckpoint(eager=eager)
    cents = cents.localCheckpoint(eager=eager)

    qf = float(quant)
    v = F.transform(F.col("vq"), lambda x: x / F.lit(qf))
    resid = assigned.join(F.broadcast(cents), "cluster").select(
        "vec_id",
        "cluster",
        F.zip_with(v, F.col("centroid"), lambda x, y: x - y).alias("resid"),
    )
    _rbase, rassigned, rcents = _pq_fit(
        resid.select("vec_id", F.col("resid").alias("embedding")),
        m,
        n_codes,
        iters,
        quant=quant,
        dim=dim,
        reuse=True,
    )
    codes = rassigned.select("vec_id", "sub", F.col("cluster").alias("code"))
    if eager:
        codes = codes.localCheckpoint(eager=True)
        rcents = rcents.localCheckpoint(eager=True)
    return IvfPqIndex(assigned, cents, codes, rcents, quant, dim, m)


def ivfpq_score_candidates(
    index: IvfPqIndex, n_queries: int, nprobe: int
) -> DataFrame:
    """Query-path candidate scoring against a trained index: probe the
    ``nprobe`` nearest learned centroids per query, build the per-query
    ADC distance tables, and ADC-score the probed lists' members.
    Returns one row per (query_id, vec_id) candidate with its
    ``adc_d2`` AND the probe rank ``pr`` of the list that surfaced it
    (each candidate lives in exactly one inverted list, so ``pr`` is
    single-valued) — carrying ``pr`` lets
    :func:`ivfpq_kmeans_recall_sweep` evaluate every nprobe' <= nprobe
    from ONE training + scoring pass.  Nothing here is corpus-shuffle:
    the probes are an (n_queries × n_clusters) broadcast join and the
    scoring join broadcasts the bounded distance table into the codes
    scan."""
    from pyspark.sql import Window

    assigned, cents, codes, rcents = (
        index.assigned,
        index.cents,
        index.codes,
        index.rcents,
    )
    quant, dim, m = index.quant, index.dim, index.m
    qf = float(quant)
    v = F.transform(F.col("vq"), lambda x: x / F.lit(qf))
    coarse = assigned.select("vec_id", F.col("cluster").alias("coarse"))

    # query probes: nprobe nearest LEARNED centroids — an
    # (n_queries × n_clusters)-row broadcast join + per-query window;
    # the centroid table is tiny by contract
    queries = assigned.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "vq"
    )
    qd2 = F.aggregate(
        F.zip_with(v, F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, d: s + d,
    )
    pw = Window.partitionBy("query_id").orderBy(
        F.col("cd2").asc(), F.col("cluster").asc()
    )
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select("query_id", "vq", "cluster", "centroid", qd2.alias("cd2"))
        .withColumn("pr", F.row_number().over(pw))
        .where(F.col("pr") <= nprobe)
    )
    qres = probes.select(
        "query_id",
        F.col("cluster").alias("pcluster"),
        "pr",
        _quantize_vec(
            F.zip_with(v, F.col("centroid"), lambda x, y: x - y), quant
        ).alias("rvq"),
    )
    sub_d = dim // m
    subs = F.array(
        *[
            F.struct(
                F.lit(s).alias("sub"),
                F.transform(
                    F.slice(F.col("rvq"), s * sub_d + 1, sub_d),
                    lambda x: x / F.lit(qf),
                ).alias("qv"),
            )
            for s in range(m)
        ]
    )
    qsubs = qres.select(
        "query_id", "pcluster", "pr", F.explode(subs).alias("x")
    ).select(
        "query_id",
        "pcluster",
        "pr",
        F.col("x.sub").alias("sub"),
        F.col("x.qv").alias("qv"),
    )
    pd2 = F.aggregate(
        F.zip_with(F.col("qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda s, d: s + d,
    )
    dtab = qsubs.join(rcents, "sub").select(
        "query_id",
        "pcluster",
        "pr",
        F.col("sub").alias("dsub"),
        F.col("cluster").alias("dcode"),
        pd2.alias("pd2"),
    )
    scored = (
        codes.join(coarse, "vec_id")
        .join(
            F.broadcast(dtab),
            (F.col("coarse") == F.col("pcluster"))
            & (F.col("sub") == F.col("dsub"))
            & (F.col("code") == F.col("dcode")),
        )
        .where(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("sub", "pd2"))),
                F.lit(0.0),
                lambda acc, x: acc + x["pd2"],
            ).alias("adc_d2"),
            F.min("pr").alias("pr"),
        )
    )
    return scored


def ivfpq_query_index(
    index: IvfPqIndex,
    k: int = 3,
    n_queries: int = 10,
    nprobe: int = IVF_NPROBE,
    refine: int = IVFPQ_REFINE,
) -> DataFrame:
    """Full query path against a trained :class:`IvfPqIndex`: ADC
    shortlist (:func:`ivfpq_score_candidates`) → exact re-rank of the
    top-``refine`` candidates on their original vectors → final top-k.
    This is what a serving loop runs per query batch; every frame it
    touches besides the shortlist join is index-resident."""
    from pyspark.sql import Window

    scored = ivfpq_score_candidates(index, n_queries=n_queries, nprobe=nprobe)
    aw = Window.partitionBy("query_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    shortlist = (
        scored.withColumn("arnk", F.row_number().over(aw))
        .where(F.col("arnk") <= refine)
        .select("query_id", "vec_id")
    )
    refined = _ivfpq_exact_rerank(shortlist, index.assigned, index.quant)
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("vec_id").asc()
    )
    return (
        refined.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "query_id",
            "rnk",
            F.col("vec_id").alias("cand_id"),
            "d2",
        )
    )


def _ivfpq_kmeans_scored(
    embeddings: DataFrame,
    n_queries: int,
    nprobe: int,
    n_clusters: int,
    coarse_iters: int,
    m: int,
    n_codes: int,
    iters: int,
    id_col: str,
    vec_col: str,
    quant: int,
    dim: int,
) -> tuple[DataFrame, DataFrame]:
    """Composed build + score (the pre-r11 shape, kept for the sweep):
    :func:`ivfpq_build_index` then :func:`ivfpq_score_candidates`.
    Returns ``(scored, assigned)`` — ``assigned`` feeds refine stages."""
    index = ivfpq_build_index(
        embeddings,
        n_clusters=n_clusters,
        coarse_iters=coarse_iters,
        m=m,
        n_codes=n_codes,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        quant=quant,
        dim=dim,
    )
    scored = ivfpq_score_candidates(index, n_queries=n_queries, nprobe=nprobe)
    return scored, index.assigned


def _ivfpq_exact_rerank(
    shortlist: DataFrame,
    assigned: DataFrame,
    quant: int,
    extra_keys: tuple[str, ...] = (),
) -> DataFrame:
    """Refine stage shared by the search and sweep operators: fetch the
    shortlisted candidates' ORIGINAL vectors (one shortlist-sized
    equi-join back to the index — never corpus-sized) and compute exact
    squared L2 per (``extra_keys``…, query_id, vec_id) row."""
    qf = float(quant)
    qv = assigned.select(
        F.col("vec_id").alias("query_id"), F.col("vq").alias("qvq")
    )
    cv = assigned.select("vec_id", F.col("vq").alias("cvq"))
    exact_d2 = F.aggregate(
        F.zip_with(
            F.transform(F.col("qvq"), lambda x: x / F.lit(qf)),
            F.transform(F.col("cvq"), lambda x: x / F.lit(qf)),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda s, d: s + d,
    )
    return (
        shortlist.join(F.broadcast(qv), "query_id")
        .join(cv, "vec_id")
        .select(
            *extra_keys, "query_id", "vec_id", hround(exact_d2, 6).alias("d2")
        )
    )


def ivfpq_kmeans_search_topk(
    embeddings: DataFrame,
    k: int = 3,
    n_queries: int = 10,
    nprobe: int = IVF_NPROBE,
    n_clusters: int = KMEANS_K,
    coarse_iters: int = KMEANS_ITERS,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    refine: int = IVFPQ_REFINE,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    dim: int = 64,
) -> DataFrame:
    """IVF-PQ with a LEARNED (k-means) coarse quantizer and an exact
    re-rank ("refine") stage — the quality fix the sim_ivfpq_recall
    audit demanded (round 6). Two measured failure modes of the
    fixed-grid :func:`ivfpq_search_topk` on this data, two standard
    fixes:

    - the pseudo-random grid co-locates true neighbors at chance level
      (coverage of the exact top-3 ≈ nprobe/n_clusters, recall@3 = 0);
      full-corpus Lloyd centroids raise coverage to ~0.87 at the same
      nprobe;
    - small codebooks (k=8 per subspace) make ADC a noisy RANKER even
      when the neighbor is in a probed list, so — the FAISS IVFPQR
      convention — ADC only SHORTLISTS ``refine`` candidates and the
      final k are ranked by exact distance on the original vectors
      (one shortlist-sized equi-join back to the index).

    Same relational shape as the grid version — the new legs are joins
    against the (n_clusters-row, broadcast) learned-centroid frame
    where the grid version folds literal expressions: full-corpus
    Lloyd training via :func:`_kmeans_assignments` (integer-exact, one
    keyed agg per iteration), residuals by centroid join, shared
    :func:`_pq_fit` codebooks, broadcast ADC distance table confined
    to probed lists.  Zero driver collect; the corpus-sized legs are
    map-side folds + the Lloyd/PQ keyed aggs.

    Since round 11 this is the one-shot composition of the split API:
    :func:`ivfpq_build_index` (train once — Lloyd, residual PQ, codes)
    then :func:`ivfpq_query_index` (probe → ADC shortlist → exact
    refine, FAISS IVFPQR convention).  A deployment holds the
    :class:`IvfPqIndex` and calls the query half per batch — the ladder
    prices the two legs separately (LADDER_r11 ``ivfpq_train_once`` /
    ``ivfpq_query_path``)."""
    index = ivfpq_build_index(
        embeddings,
        n_clusters=n_clusters,
        coarse_iters=coarse_iters,
        m=m,
        n_codes=n_codes,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        quant=quant,
        dim=dim,
    )
    return ivfpq_query_index(
        index, k=k, n_queries=n_queries, nprobe=nprobe, refine=refine
    )


IVFPQ_SWEEP_NPROBES = (1, 2, 4, 8)
IVFPQ_SWEEP_REFINES = (8, 32, 64, 128)


def ivfpq_kmeans_recall_sweep(
    embeddings: DataFrame,
    nprobes: tuple[int, ...] = IVFPQ_SWEEP_NPROBES,
    refines: tuple[int, ...] = IVFPQ_SWEEP_REFINES,
    k: int = 3,
    n_queries: int = 10,
    n_clusters: int = KMEANS_K,
    coarse_iters: int = KMEANS_ITERS,
    m: int = PQ_M,
    n_codes: int = PQ_K,
    iters: int = PQ_ITERS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = KMEANS_QUANT,
    dim: int = 64,
) -> DataFrame:
    """Recall-vs-cost operating curve for the learned-quantizer IVF-PQ
    (VERDICT r6 #8): one row per (nprobe, refine_depth) grid point with
    aggregate recall@k over the query set and the candidate-scoring
    cost (``n_scored`` = ADC-scored candidates — the quantity that
    grows with nprobe at corpus scale). The standing point audits pin
    ONE operating point; this query documents the whole knee so the
    default is a measured choice.

    Cost shape: Lloyd + PQ training and ADC scoring run ONCE at
    max(nprobes) — each candidate carries the probe rank ``pr`` of its
    list, so every smaller nprobe is a FILTER (pr <= n), not a re-run;
    refine depths are extra shortlist windows over the same scored
    frame. The whole sweep costs one search plus per-point windows."""
    from pyspark.sql import Window

    scored, assigned = _ivfpq_kmeans_scored(
        embeddings,
        n_queries=n_queries,
        nprobe=max(nprobes),
        n_clusters=n_clusters,
        coarse_iters=coarse_iters,
        m=m,
        n_codes=n_codes,
        iters=iters,
        id_col=id_col,
        vec_col=vec_col,
        quant=quant,
        dim=dim,
    )
    # the scored frame feeds every grid point plus the cost agg — one
    # materialization of the Lloyd+PQ+ADC chain (multi-consumer rule)
    scored = scored.localCheckpoint(eager=False)
    grid = scored.sparkSession.createDataFrame(
        [(n, r) for n in nprobes for r in refines],
        "nprobe long, refine_depth long",
    )
    cand = scored.crossJoin(F.broadcast(grid)).where(
        F.col("pr") <= F.col("nprobe")
    )
    aw = Window.partitionBy("nprobe", "refine_depth", "query_id").orderBy(
        F.col("adc_d2").asc(), F.col("vec_id").asc()
    )
    shortlist = (
        cand.withColumn("arnk", F.row_number().over(aw))
        .where(F.col("arnk") <= F.col("refine_depth"))
        .select("nprobe", "refine_depth", "query_id", "vec_id")
    )
    refined = _ivfpq_exact_rerank(
        shortlist, assigned, quant, extra_keys=("nprobe", "refine_depth")
    )
    w = Window.partitionBy("nprobe", "refine_depth", "query_id").orderBy(
        F.col("d2").asc(), F.col("vec_id").asc()
    )
    approx = (
        refined.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "nprobe",
            "refine_depth",
            "query_id",
            F.col("vec_id").alias("cand_id"),
            F.lit(1).alias("hit"),
        )
    )
    exact = l2_topk(embeddings, k=k, n_queries=n_queries).select(
        "query_id", "cand_id"
    )
    truth = exact.crossJoin(
        F.broadcast(grid.select("nprobe", "refine_depth").distinct())
    )
    joined = truth.join(
        approx, ["nprobe", "refine_depth", "query_id", "cand_id"], "left"
    )
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    recall_agg = joined.groupBy("nprobe", "refine_depth").agg(
        n_exact.cast("long").alias("n_exact"),
        n_hit.cast("long").alias("n_hit"),
        hround(n_hit / n_exact, 6).alias("recall"),
    )
    # cost leg: ADC-scored candidates per nprobe (refine-independent)
    costs = (
        scored.crossJoin(
            F.broadcast(grid.select("nprobe").distinct())
        )
        .where(F.col("pr") <= F.col("nprobe"))
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("n_scored"))
    )
    return (
        recall_agg.join(costs, "nprobe")
        .select(
            "nprobe", "refine_depth", "n_exact", "n_hit", "recall", "n_scored"
        )
        .orderBy("nprobe", "refine_depth")
    )
