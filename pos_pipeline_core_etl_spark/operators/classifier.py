"""Distributed logistic-regression quality classifier (LLM-pipeline
extension; no reference analog — the reference has no ML surface).

The fasttext-style weak-supervision filter a production training-data
pipeline runs at corpus scale: hand-engineered text statistics as
features, a cheap linear model trained on a weak label (here: a
curated-language flag), scores used to gate or re-weight documents.

100 TB shape — every step is a DataFrame op; the driver collects only
d+1 longs per training epoch:

- features: one narrow projection over ``documents`` (reuses
  :func:`operators.text.quality_score`'s deterministic statistics).
  The training plans checkpoint it lazily once
  (plans/classifier_queries.py), because GD reads it once per epoch
  plus once for scoring (checkpoint SMALL frames — six doubles per
  row, far narrower than the text it derives from).
- train: full-batch gradient descent. Each epoch is a map-side
  margin/sigmoid fold plus a single global agg with map-side partials
  (the only shuffle, reducing to ``d+1`` numbers per partition); its
  ``d+1`` sums are collected and the updated weights enter the next
  epoch's plan as literals.
- determinism: per-doc gradient contributions are quantized to BIGINT
  (``floor(g * Q + 0.5)``) before summing, so the global sum is exact
  integer math — order-free, bit-identical across engines and
  partitionings. ``Q = 2**26`` leaves |sum| < 2**63 headroom up to
  ~1e9 docs x |g|<=10; at larger corpora scale Q down or sum as
  DECIMAL(38,0). The only transcendental is ``exp`` inside the
  sigmoid; features and outputs are hround-ed so a last-ulp libm
  disagreement cannot surface (contributions sit ~1e-8 of an integer
  boundary only with probability ~1e-8 per value).

On the synthetic corpus the label carries no real signal, so the model
honestly converges to the base rate (the eval query reports
near-chance accuracy); the separable-data unit test proves the GD
itself learns. See tests/test_classifier.py.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.functions.rounding import hround
from pos_pipeline_core_etl_spark.operators import text

LR_ITERS = 3
LR_RATE = 0.5
LR_QUANT = 1 << 26
N_FEATURES = 5  # x0 (intercept) .. x4


def lr_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, y, x0..x4): deterministic text statistics + weak label.

    y = 1.0 if the document's ``lang`` tag is 'en' (the "curated
    language" weak label). Features reuse quality_score's hround-ed
    statistics so both engines share bit-identical inputs:
    x0 intercept, x1 log-length, x2 stopword ratio, x3 scaled mean
    word length, x4 capped word count.
    """
    q = text.quality_score(docs, text_col=text_col)
    labeled = docs.select("doc_id", "lang").join(q, "doc_id")
    return labeled.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1.0)).otherwise(F.lit(0.0)).alias("y"),
        F.lit(1.0).alias("x0"),
        hround(F.log(F.lit(1.0) + F.col("n_chars")), 6).alias("x1"),
        F.col("stopword_ratio").alias("x2"),
        hround(F.col("avg_word_len") / F.lit(10.0), 6).alias("x3"),
        hround(F.least(F.col("n_words") / F.lit(100.0), F.lit(1.0)), 6).alias("x4"),
    )


def _margin(prefix: str = "") -> F.Column:
    """Left-associated dot product w . x — the fold order both engines
    share (DuckDB's ``+`` chain parses left-assoc too)."""
    terms = [F.col(f"w{j}") * F.col(f"{prefix}x{j}") for j in range(N_FEATURES)]
    return reduce(lambda acc, t: acc + t, terms)


def logistic_gd(
    feats: DataFrame,
    iters: int = LR_ITERS,
    rate: float = LR_RATE,
    quant: int = LR_QUANT,
) -> DataFrame:
    """Full-batch GD -> ONE row (w0..w4).

    ``feats`` is read once per epoch and is not checkpointed here: the
    caller passes a frame it may read ``iters`` times (the registry
    plans pass a lazily checkpointed one).

    Weights start at exactly 0.0 (sigmoid(0) = 0.5 — the first
    gradient is pure rational arithmetic, so engines agree exactly
    from step one). Each iteration computes quantized per-doc gradient
    contributions map-side and ONE global agg (d+1 longs), then the
    update ``w <- w - rate * sum_q / (n * Q)``.

    r13 (guide §1.2/§7.3 — the profile showed 9 jobs / 0.35
    executor-seconds: pure driver fixed cost): the weight vector is now
    carried as PYTHON DOUBLES and embedded as literals in the next
    iteration's gradient expressions, with one bounded collect of the
    d+1 aggregate longs per epoch — the same scalar-probe idiom as the
    components / pagerank convergence loops.  The previous form chained
    ``crossJoin(F.broadcast(w))`` per epoch, so every epoch's agg plan
    NESTED the previous epoch's as a broadcast child: the action paid
    one broadcast-exchange job per epoch and re-planned the whole
    chain each time.  Bit-exactness is unchanged: the collected sums
    are the identical order-free integer aggregates, and the driver
    update ``w - rate * (s / (n * Q))`` is the same IEEE-double
    expression the in-plan projection evaluated (Python floats ARE
    doubles; int->double conversions round-to-nearest in both).
    """
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    spark = feats.sparkSession
    qf = float(quant)
    weights = [0.0] * N_FEATURES
    for _ in range(iters):
        margin = reduce(
            lambda acc, t: acc + t,
            [F.lit(weights[j]) * F.col(f"x{j}") for j in range(N_FEATURES)],
        )
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-margin))
        grads = [
            F.floor((p - F.col("y")) * F.col(f"x{k}") * F.lit(qf) + F.lit(0.5))
            .cast("long")
            .alias(f"g{k}")
            for k in range(N_FEATURES)
        ]
        row = (
            feats.select(*grads)
            .agg(
                *[F.sum(f"g{k}").alias(f"s{k}") for k in range(N_FEATURES)],
                F.count(F.lit(1)).alias("n"),
            )
            .collect()[0]
        )
        n = row["n"]
        if n == 0:
            # empty corpus: the pre-r13 broadcast-chain form yielded an
            # EMPTY weight frame (zero groups) — preserve that contract
            return spark.range(0).select(
                *[F.lit(0.0).alias(f"w{j}") for j in range(N_FEATURES)]
            )
        weights = [
            weights[k] - rate * (row[f"s{k}"] / (n * qf))
            for k in range(N_FEATURES)
        ]
    return spark.range(1).select(
        *[F.lit(weights[j]).alias(f"w{j}") for j in range(N_FEATURES)]
    )


def lr_scores(feats: DataFrame, weights: DataFrame) -> DataFrame:
    """(doc_id, y, p, pred): apply a trained 1-row weight frame."""
    j = feats.crossJoin(F.broadcast(weights))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_margin()))
    return j.select(
        "doc_id",
        F.col("y").cast("long").alias("y"),
        hround(p, 6).alias("p"),
        F.when(p >= 0.5, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("pred"),
    )


def calibration_bins(scores: DataFrame) -> DataFrame:
    """(bin, n, mean_p, obs_rate) reliability deciles over a scored
    frame — bin = least(floor(p*10), 9) so p = 1.0 lands in the top
    bin. Shared by the registered query and the constructed-fixture
    test (on the synthetic corpus the trained model collapses to one
    bin — labels carry no signal — so the multi-bin leg is proven on a
    constructed spread of scores instead)."""
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    bin_ = F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("long")
    return (
        scores.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            hround(F.avg("p"), 6).alias("mean_p"),
            hround(F.avg("y"), 6).alias("obs_rate"),
        )
        .orderBy("bin")
    )


def lr_eval(scores: DataFrame) -> DataFrame:
    """One-row confusion matrix + accuracy over scored docs."""
    is_ = lambda y, pred: F.sum(  # noqa: E731
        ((F.col("y") == y) & (F.col("pred") == pred)).cast("long")
    )
    return scores.groupBy().agg(
        is_(1, 1).alias("tp"),
        is_(0, 1).alias("fp"),
        is_(0, 0).alias("tn"),
        is_(1, 0).alias("fn"),
        hround(
            F.sum((F.col("y") == F.col("pred")).cast("long")) / F.count(F.lit(1)), 6
        ).alias("accuracy"),
    )
