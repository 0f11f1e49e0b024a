"""Distributed logistic-regression classifier queries with DuckDB
oracles (LLM-pipeline extension; the reference has no ML surface).

The oracle unrolls the SAME gradient-descent iteration count /
learning rate / quantization constants the Spark operator uses
(``operators/classifier.py``), exactly like the k-means/PQ oracle
chain (``llm_ops._lloyd_chain``) — changing LR_ITERS cannot silently
desync engine and oracle. Every arithmetic fold is written in the
identical left-associated order in both engines, and per-doc gradient
contributions are integer-quantized before summing so the only
order-sensitive reduction is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.functions.rounding import hround, hround_sql
from pos_pipeline_core_etl_spark.operators import classifier
from pos_pipeline_core_etl_spark.plans.llm_ops import TEXT_QUALITY_SQL
from pos_pipeline_core_etl_spark.sources.tables import load_table

_N = classifier.N_FEATURES
_QF = float(classifier.LR_QUANT)
_RATE = classifier.LR_RATE
_ITERS = classifier.LR_ITERS


def _checkpointed_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return classifier.lr_features(docs).localCheckpoint(eager=False)


def docs_lr_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained weight vector as (feature, weight) rows."""
    feats = _checkpointed_feats(spark, sf_dir)
    w = classifier.logistic_gd(feats)
    cells = ", ".join(f"'w{j}', w{j}" for j in range(_N))
    return w.selectExpr(f"stack({_N}, {cells}) AS (feature, weight)").select(
        "feature", hround(F.col("weight"), 6).alias("weight")
    )


def docs_lr_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc probability + hard prediction under the trained model."""
    feats = _checkpointed_feats(spark, sf_dir)
    w = classifier.logistic_gd(feats)
    return classifier.lr_scores(feats, w)


def docs_lr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row confusion matrix + accuracy (honestly near-chance on the
    synthetic corpus — the label carries no textual signal; the
    separable-data unit test proves the GD learns when signal exists)."""
    feats = _checkpointed_feats(spark, sf_dir)
    w = classifier.logistic_gd(feats)
    return classifier.lr_eval(classifier.lr_scores(feats, w))


def _margin_sql(walias: str, falias: str) -> str:
    return " + ".join(f"{walias}.w{j} * {falias}.x{j}" for j in range(_N))


def _lr_chain_sql() -> str:
    """WITH-chain: features -> unrolled GD -> final weights CTE wt{I}."""
    feats = f"""
q AS ({TEXT_QUALITY_SQL}),
feats AS (
  SELECT q.doc_id,
         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
         1.0 AS x0,
         {hround_sql("ln(1.0 + q.n_chars)", 6)} AS x1,
         q.stopword_ratio AS x2,
         {hround_sql("q.avg_word_len / 10.0", 6)} AS x3,
         {hround_sql("LEAST(q.n_words / 100.0, 1.0)", 6)} AS x4
  FROM q JOIN documents d USING (doc_id)
),
wt0 AS (SELECT {", ".join(f"0.0 AS w{j}" for j in range(_N))})"""
    chain = [feats]
    for i in range(1, _ITERS + 1):
        p = f"1.0 / (1.0 + exp(-({_margin_sql('w', 'f')})))"
        sums = ", ".join(
            f"sum(CAST(floor(({p} - f.y) * f.x{k} * {_QF} + 0.5) AS BIGINT)) AS s{k}"
            for k in range(_N)
        )
        wcols = ", ".join(f"w.w{j} AS w{j}" for j in range(_N))
        grp = ", ".join(f"w.w{j}" for j in range(_N))
        chain.append(
            f"""gr{i} AS (
  SELECT {wcols}, {sums}, count(*) AS n
  FROM feats f CROSS JOIN wt{i - 1} w
  GROUP BY {grp}
)"""
        )
        upd = ", ".join(
            f"(w{k} - {_RATE} * (s{k} / (n * {_QF}))) AS w{k}" for k in range(_N)
        )
        chain.append(f"wt{i} AS (SELECT {upd} FROM gr{i})")
    return "WITH " + ",\n".join(chain)


def _train_oracle() -> str:
    finals = "\nUNION ALL ".join(
        f"SELECT 'w{j}' AS feature, {hround_sql(f'w{j}', 6)} AS weight FROM wt{_ITERS}"
        for j in range(_N)
    )
    return f"{_lr_chain_sql()}\n{finals}"


_SCORES_BODY = f"""
SELECT f.doc_id,
       CAST(f.y AS BIGINT) AS y,
       {hround_sql(f"1.0 / (1.0 + exp(-({_margin_sql('w', 'f')})))", 6)} AS p,
       CAST(CASE WHEN 1.0 / (1.0 + exp(-({_margin_sql("w", "f")}))) >= 0.5
                 THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM feats f CROSS JOIN wt{_ITERS} w
"""


def _scores_oracle() -> str:
    return f"{_lr_chain_sql()}\n{_SCORES_BODY}"


def _eval_oracle() -> str:
    return f"""{_lr_chain_sql()},
scores AS ({_SCORES_BODY})
SELECT CAST(sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       CAST(sum(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       {hround_sql(
           "sum(CASE WHEN y = pred THEN 1 ELSE 0 END) / count(*)", 6)} AS accuracy
FROM scores
"""


QUERIES = {
    "docs_lr_train": (docs_lr_train, _train_oracle()),
    "docs_lr_scores": (docs_lr_scores, _scores_oracle()),
    "docs_lr_eval": (docs_lr_eval, _eval_oracle()),
}


def docs_lr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row ROC-AUC of the trained model via the rank statistic:
    AUC = [#(pos,neg) pairs with p_pos > p_neg + 0.5·ties] / (n⁺·n⁻).

    Scale shape: scores collapse to per-distinct-p counts first (one
    keyed hash-agg with map-side partials — p is hround-ed to 6 dp so
    there are at most 10⁶+1 distinct values, BOUNDED regardless of
    corpus size), then one window over that bounded frame accumulates
    negatives-below; every term stays an exact integer or half-integer
    in doubles, so the fold is order-free cross-engine."""
    from pyspark.sql import Window

    feats = _checkpointed_feats(spark, sf_dir)
    w = classifier.logistic_gd(feats)
    scored = classifier.lr_scores(feats, w)
    per_p = scored.groupBy("p").agg(
        F.sum("y").alias("np_"),
        F.sum(F.lit(1) - F.col("y")).alias("nn_"),
    )
    below = (
        Window.orderBy("p").rowsBetween(Window.unboundedPreceding, -1)
    )
    c = per_p.withColumn(
        "cnb", F.coalesce(F.sum("nn_").over(below), F.lit(0))
    )
    contrib = F.col("np_") * F.col("cnb") + F.lit(0.5) * (
        F.col("np_") * F.col("nn_")
    )
    return c.groupBy().agg(
        F.sum("np_").cast("long").alias("n_pos"),
        F.sum("nn_").cast("long").alias("n_neg"),
        hround(
            F.sum(contrib) / (F.sum("np_") * F.sum("nn_")), 6
        ).alias("auc"),
    )


def _auc_oracle() -> str:
    return f"""{_lr_chain_sql()},
scores AS ({_SCORES_BODY}),
per_p AS (
  SELECT p, CAST(sum(y) AS BIGINT) AS np, CAST(sum(1 - y) AS BIGINT) AS nn
  FROM scores GROUP BY p
),
c AS (
  SELECT p, np, nn,
         COALESCE(SUM(nn) OVER (ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
  FROM per_p
)
SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       CAST(sum(nn) AS BIGINT) AS n_neg,
       {hround_sql("sum(np * cnb + 0.5 * (np * nn)) / (sum(np) * sum(nn))", 6)}
         AS auc
FROM c
"""


QUERIES["docs_lr_auc"] = (docs_lr_auc, _auc_oracle())


LR_GATE_KEEP_FRACTION = 0.4


def corpus_lr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality-gate report under the trained classifier:
    keep the top LR_GATE_KEEP_FRACTION of the corpus by model score
    (ties broken by doc_id — a fixed p >= 0.5 cut is degenerate when
    the model sits at the base rate), then report per-source keep
    counts — the fasttext-filter deployment shape: score, gate,
    report. The exact global rank here is the verify twin; at corpus
    scale the cut-point comes from a mergeable percentile sketch
    exactly as docs_quality_pct_approx does for the quality score."""
    from pyspark.sql import Window

    feats = _checkpointed_feats(spark, sf_dir)
    w = classifier.logistic_gd(feats)
    scored = classifier.lr_scores(feats, w)
    # cut-point from in-plan window counts (the oracle's count(*) OVER ()
    # form) — an eager count() here would re-run the GD chain as a
    # second job; both windows ride the same single global-sort pass
    ranked = scored.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("p"), F.col("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    k = F.floor(F.col("n") * F.lit(LR_GATE_KEEP_FRACTION)).cast("long")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        ranked.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum((F.col("rn") <= k).cast("long")).alias("n_kept"),
            hround(
                F.sum((F.col("rn") <= k).cast("long")) / F.count(F.lit(1)), 6
            ).alias("pct_kept"),
        )
        .orderBy("source")
    )


def _gate_oracle() -> str:
    frac = LR_GATE_KEEP_FRACTION
    return f"""{_lr_chain_sql()},
scores AS ({_SCORES_BODY}),
ranked AS (
  SELECT doc_id, p,
         row_number() OVER (ORDER BY p DESC, doc_id) AS rn,
         count(*) OVER () AS n
  FROM scores
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN r.rn <= CAST(floor(r.n * {frac}) AS BIGINT)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       {hround_sql(
           f"sum(CASE WHEN r.rn <= CAST(floor(r.n * {frac}) AS BIGINT)"
           " THEN 1 ELSE 0 END) / count(*)", 6)} AS pct_kept
FROM ranked r JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


QUERIES["corpus_lr_gate"] = (corpus_lr_gate, _gate_oracle())


def docs_lr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table of the trained model: predicted
    probabilities in decile bins vs the observed positive rate per bin
    — the standard check BEFORE using a quality classifier's scores as
    sampling weights or gate thresholds (an accurate-but-miscalibrated
    model mis-sizes every downstream quota). bin = least(floor(p·10),9)
    so p = 1.0 lands in the top bin; means are single hround(6)
    roundings over ≤corpus-sized bins (the same avg contract as
    docs_lr_eval's accuracy)."""
    feats = _checkpointed_feats(spark, sf_dir)
    w = classifier.logistic_gd(feats)
    return classifier.calibration_bins(classifier.lr_scores(feats, w))


def _calibration_oracle() -> str:
    return f"""{_lr_chain_sql()},
scores AS ({_SCORES_BODY})
SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
       CAST(count(*) AS BIGINT) AS n,
       {hround_sql("AVG(p)", 6)} AS mean_p,
       {hround_sql("AVG(y)", 6)} AS obs_rate
FROM scores
GROUP BY 1
ORDER BY bin
"""


QUERIES["docs_lr_calibration"] = (docs_lr_calibration, _calibration_oracle())
