"""LLM-training-data pipeline queries (dedup / similarity / text /
multimodal) with DuckDB oracles.

Every oracle reproduces the Spark computation exactly: integer hashing
is md5-hex-prefix based (identical in both engines), vector math uses
left-fold accumulation in both (``F.aggregate`` ↔ ``list_reduce``),
and similarities are rounded before ranking so order ties are stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.functions.rounding import hround, hround_sql
from pos_pipeline_core_etl_spark.operators import (
    dedup,
    multimodal,
    sampling,
    similarity,
    text,
)
from pos_pipeline_core_etl_spark.operators.common import ensure_parallelism
from pos_pipeline_core_etl_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# text analysis


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text.token_counts(load_table(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
        F.col("n_tokens_bpe").cast("long").alias("n_tokens_bpe"),
        F.col("n_chars").cast("long").alias("n_chars"),
    )


TEXT_TOKEN_COUNTS_SQL = rf"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens_ws,
       len(regexp_extract_all(text, '{text.BPE_ISH_RE}')) AS n_tokens_bpe,
       length(text) AS n_chars
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text.quality_score(load_table(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        "punct_ratio",
        "stopword_ratio",
        "avg_word_len",
        "quality",
    )


def _quality_oracle() -> str:
    stop_list = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    return rf"""
WITH t AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> list_contains([{stop_list}], lower(x)))) AS n_stop
  FROM documents
),
r AS (
  SELECT doc_id, n_chars, n_words,
         CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct / n_chars END AS punct_ratio,
         CASE WHEN n_words = 0 THEN 0.0 ELSE n_stop / n_words END AS stop_ratio,
         CASE WHEN n_words = 0 THEN 0.0
              ELSE (n_chars - (n_words - 1)) / n_words END AS avg_word_len
  FROM t
)
SELECT doc_id, n_chars, n_words,
       {hround_sql("punct_ratio", 6)} AS punct_ratio,
       {hround_sql("stop_ratio", 6)} AS stopword_ratio,
       {hround_sql("avg_word_len", 6)} AS avg_word_len,
       {hround_sql(
           "LEAST(n_words / 100.0, 1.0) * 0.4"
           " + (1 - LEAST(punct_ratio * 5, 1.0)) * 0.3"
           " + LEAST(stop_ratio * 4, 1.0) * 0.3", 6)} AS quality
FROM r
"""


TEXT_QUALITY_SQL = _quality_oracle()


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text.lang_id(load_table(spark, sf_dir, "documents"))
    langs = sorted(text.LANG_MARKERS)
    return df.select(
        "doc_id",
        *[F.col(f"score_{lang}").cast("long").alias(f"score_{lang}") for lang in langs],
        "lang_pred",
    )


def _lang_id_oracle() -> str:
    langs = sorted(text.LANG_MARKERS)
    score_cells = []
    for lang in langs:
        words = ", ".join(f"'{w}'" for w in text.LANG_MARKERS[lang])
        score_cells.append(
            rf"""len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 x -> list_contains([{words}], lower(x)))) AS score_{lang}"""
        )
    cells = ",\n       ".join(score_cells)
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred_whens = "\n".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    return f"""
WITH s AS (
  SELECT doc_id,
       {cells}
  FROM documents
)
SELECT doc_id, {", ".join(f"score_{lang}" for lang in langs)},
       CASE WHEN {best} = 0 THEN 'und' ELSE CASE {pred_whens} END END AS lang_pred
FROM s
"""


TEXT_LANG_ID_SQL = _lang_id_oracle()


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = text.fingerprint(load_table(spark, sf_dir, "documents"))
    return df.select(
        "doc_id", "fp", F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens")
    )


TEXT_FINGERPRINT_SQL = r"""
SELECT doc_id,
       md5(array_to_string(
         list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
         ' ')) AS fp,
       len(list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))))
         AS n_distinct_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# dedup


_TOKS_CTE = r"""toks AS (
  SELECT doc_id, lower(u.t) AS token
  FROM documents,
       LATERAL unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS u(t)
)"""


def text_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocabulary(load_table(spark, sf_dir, "documents"))


TEXT_VOCABULARY_SQL = f"""
WITH {_TOKS_CTE}
SELECT token, COUNT(*) AS n_total,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM toks GROUP BY token HAVING COUNT(*) >= 2
"""


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_topk(load_table(spark, sf_dir, "documents"))


TEXT_TFIDF_TOPK_SQL = f"""
WITH {_TOKS_CTE},
tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY token),
n AS (SELECT COUNT(*) AS n_corpus FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token,
         {hround_sql("tf.tf * ln((n.n_corpus + 1.0) / (df.df + 1.0))", 6)} AS score
  FROM tf JOIN df USING (token) CROSS JOIN n
)
SELECT doc_id,
       ROW_NUMBER() OVER (PARTITION BY doc_id
                          ORDER BY score DESC, token ASC) AS rnk,
       token, score
FROM scored
QUALIFY rnk <= 5
"""


def text_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-overlap decontamination (test-set-leakage guard)."""
    return text.decontaminate(load_table(spark, sf_dir, "documents"))


def _decontaminate_oracle(benchmark_max_id: int = 50, threshold: float = 0.5) -> str:
    sh = dedup.shingles_sql("text")
    contamination = hround_sql("COUNT(hit) / COUNT(*)", 6)
    return f"""
WITH c AS (
  SELECT doc_id, u.g AS gram
  FROM documents, LATERAL unnest({sh}) AS u(g)
  WHERE doc_id >= {benchmark_max_id}
),
b AS (
  SELECT DISTINCT u.g AS gram, 1 AS hit
  FROM documents, LATERAL unnest({sh}) AS u(g)
  WHERE doc_id < {benchmark_max_id}
),
j AS (SELECT c.doc_id, b.hit FROM c LEFT JOIN b USING (gram))
SELECT doc_id,
       COUNT(*) AS n_grams,
       COUNT(hit) AS n_contaminated,
       {contamination} AS contamination,
       {contamination} >= {threshold} AS flagged
FROM j GROUP BY doc_id
"""


TEXT_DECONTAMINATE_SQL = _decontaminate_oracle()


def text_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination — map-side bit tests instead of a
    raw gram broadcast join (operators/text.py::decontaminate_bloom);
    the bitmap is engine-exact, so even false positives hash-match."""
    return text.decontaminate_bloom(load_table(spark, sf_dir, "documents"), spark)


def _decontaminate_bloom_oracle(benchmark_max_id: int = 50) -> str:
    from pos_pipeline_core_etl_spark.operators.text import (
        BLOOM_BITS,
        BLOOM_HASHES,
        BLOOM_N_WORDS,
        BLOOM_WORD,
    )

    sh = dedup.shingles_sql("text")

    def pos(a: int, b: int, x: str) -> str:
        return f"(({a} * {x} + {b}) % {BLOOM_BITS})"

    pos_list = ", ".join(pos(a, b, "bx.X") for a, b in BLOOM_HASHES)
    tests = " AND ".join(
        f"(bl.bloom[CAST({pos(a, b, 'c.X')} // {BLOOM_WORD} AS INT) + 1]"
        f" & (CAST(1 AS BIGINT) << CAST({pos(a, b, 'c.X')} % {BLOOM_WORD} AS INT)))"
        " <> 0"
        for a, b in BLOOM_HASHES
    )
    return f"""
WITH bench AS (
  SELECT DISTINCT u.g AS gram
  FROM documents, LATERAL unnest({sh}) AS u(g)
  WHERE doc_id < {benchmark_max_id}
),
bpos AS (
  SELECT p.p AS pos
  FROM (SELECT {dedup.SHINGLE_ID_SQL.format(s="gram")} AS X FROM bench) bx,
       LATERAL unnest([{pos_list}]) AS p(p)
),
words AS (
  SELECT CAST(pos // {BLOOM_WORD} AS BIGINT) AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD} AS INT)) AS val
  FROM bpos GROUP BY 1
),
dense AS (
  SELECT g.word, COALESCE(w.val, 0) AS val
  FROM (SELECT unnest(generate_series(0, {BLOOM_N_WORDS - 1})) AS word) g
  LEFT JOIN words w USING (word)
),
bloom AS (SELECT list(val ORDER BY word) AS bloom FROM dense),
corpus AS (
  SELECT doc_id, u.g AS gram, {dedup.SHINGLE_ID_SQL.format(s="u.g")} AS X
  FROM documents, LATERAL unnest({sh}) AS u(g)
  WHERE doc_id >= {benchmark_max_id}
),
scored AS (
  SELECT c.doc_id,
         CASE WHEN b.gram IS NOT NULL THEN 1 END AS hit,
         ({tests}) AS bhit
  FROM corpus c
  LEFT JOIN bench b USING (gram)
  CROSS JOIN bloom bl
)
SELECT doc_id,
       COUNT(*) AS n_grams,
       COUNT(hit) AS n_exact,
       COUNT(CASE WHEN bhit THEN 1 END) AS n_bloom,
       COUNT(CASE WHEN bhit THEN 1 END) - COUNT(hit) AS n_false_pos
FROM scored GROUP BY doc_id
"""


TEXT_DECONTAMINATE_BLOOM_SQL = _decontaminate_bloom_oracle()


def text_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-banded NEAR-match decontamination (VERDICT r6 #7): the
    exact-gram variants miss paraphrased / reformatted benchmark leakage;
    this one LSH-bands both sides, probes the broadcast benchmark
    buckets with the corpus rows (one-sided — never corpus × corpus),
    verifies exact shingle Jaccard on candidates only, and reports the
    best-matching benchmark doc per candidate corpus doc
    (operators/text.py::decontaminate_fuzzy)."""
    return text.decontaminate_fuzzy(load_table(spark, sf_dir, "documents"))


def _fuzzy_decon_ctes(prefix: str = "", benchmark_max_id: int = 50) -> str:
    """CTE chain text for the MinHash-banded fuzzy-decontamination
    oracle, every CTE name ``prefix``-ed so downstream compositions
    (corpus_decon_decisions / corpus_build_manifest_decon) can
    concatenate it after the prep chain without name collisions (DuckDB
    allows WITH RECURSIVE only at statement top, so composition is CTE
    concatenation — the _corpus_prep_parts discipline)."""
    p = prefix
    sh = dedup.shingles_sql("text")
    xid = dedup.SHINGLE_ID_SQL.format(s="u.s")
    sig_cells = ",\n  ".join(
        f"MIN(({a} * x + {b}) % {dedup.HASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup._hash_params())
    )
    band_selects = []
    for band in range(dedup.LSH_BANDS):
        cols = [f"mh_{band * dedup.LSH_ROWS + r}" for r in range(dedup.LSH_ROWS)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band, md5({key}) AS bucket_key FROM {p}sig"
        )
    bands = "\nUNION ALL\n".join(band_selects)
    jac = (
        "len(list_intersect(a.s, b.s)) / "
        "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"
    )
    return f"""{p}sh AS (SELECT doc_id, {sh} AS s FROM documents),
{p}x AS (
  SELECT {p}sh.doc_id, {xid} AS x
  FROM {p}sh, LATERAL (SELECT unnest({p}sh.s) AS s) u
),
{p}sig AS (
  SELECT doc_id,
  {sig_cells}
  FROM {p}x GROUP BY doc_id
),
{p}bands AS (
{bands}
),
{p}cand AS (
  SELECT DISTINCT c.doc_id, b.doc_id AS bench_id
  FROM {p}bands c
  JOIN {p}bands b ON b.band = c.band AND b.bucket_key = c.bucket_key
  WHERE c.doc_id >= {benchmark_max_id} AND b.doc_id < {benchmark_max_id}
),
{p}scored AS (
  SELECT {p}cand.doc_id, {p}cand.bench_id, {hround_sql(jac, 6)} AS jaccard
  FROM {p}cand
  JOIN {p}sh a ON a.doc_id = {p}cand.doc_id
  JOIN {p}sh b ON b.doc_id = {p}cand.bench_id
),
{p}ranked AS (
  SELECT doc_id, bench_id, jaccard,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_candidates,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY jaccard DESC, bench_id ASC) AS rn
  FROM {p}scored
)"""


def _decontaminate_fuzzy_oracle(
    benchmark_max_id: int = 50, threshold: float = 0.3
) -> str:
    return f"""
WITH {_fuzzy_decon_ctes(benchmark_max_id=benchmark_max_id)}
SELECT doc_id, CAST(n_candidates AS BIGINT) AS n_candidates,
       bench_id AS best_bench_id, jaccard AS best_jaccard,
       jaccard >= {threshold} AS flagged
FROM ranked WHERE rn = 1
"""


TEXT_DECONTAMINATE_FUZZY_SQL = _decontaminate_fuzzy_oracle()


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals."""
    return text.repetition_signals(load_table(spark, sf_dir, "documents"))


def _repetition_oracle() -> str:
    toks = "regexp_split_to_array(trim(lower(text)), '\\s+')"
    bi = "list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i + 1])"
    top = "list_max(list_transform(list_distinct(t), x -> len(list_filter(t, y -> y = x))))"

    def frac(num: str, den: str) -> str:
        return f"CASE WHEN {den} <= 0 THEN 0.0 ELSE ({num}) / ({den}) END"

    return f"""
WITH base AS (SELECT doc_id, {toks} AS t FROM documents),
m AS (
  SELECT doc_id,
         len(t) AS n_tokens,
         len(list_distinct(t)) AS n_distinct,
         len({bi}) AS n_bi,
         len(list_distinct({bi})) AS n_bi_distinct,
         {top} AS top_count
  FROM base
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       {hround_sql(frac("n_tokens - n_distinct", "n_tokens"), 6)} AS dup_token_frac,
       {hround_sql(frac("n_bi - n_bi_distinct", "n_bi"), 6)} AS dup_bigram_frac,
       {hround_sql(frac("top_count", "n_tokens"), 6)} AS top_token_frac
FROM m
"""


TEXT_REPETITION_SQL = _repetition_oracle()


def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction fingerprint (see operators/text.py)."""
    return text.pii_scan(load_table(spark, sf_dir, "documents"))


def _pii_oracle() -> str:
    injected = (
        "CASE WHEN doc_id % 7 = 0 THEN text || ' contact-' || CAST(doc_id AS VARCHAR) || '@example.com' "
        "WHEN doc_id % 11 = 0 THEN text || ' call +1 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
        "ELSE text END"
    )
    return f"""
WITH inj AS (SELECT doc_id, {injected} AS s FROM documents),
m AS (
  SELECT doc_id,
         len(regexp_extract_all(s, '{text.PII_EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(s, '{text.PII_PHONE_RE}')) AS n_phones,
         len(regexp_extract_all(s, '{text.PII_IP_RE}')) AS n_ips,
         md5(regexp_replace(s, '{text.PII_EMAIL_RE}', '<EMAIL>', 'g')) AS redacted_md5
  FROM inj
)
SELECT doc_id,
       CAST(n_emails AS BIGINT) AS n_emails,
       CAST(n_phones AS BIGINT) AS n_phones,
       CAST(n_ips AS BIGINT) AS n_ips,
       (n_emails + n_phones + n_ips) > 0 AS has_pii,
       redacted_md5
FROM m
"""


TEXT_PII_SCAN_SQL = _pii_oracle()


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


DEDUP_EXACT_DOCS_SQL = r"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
)
SELECT fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
FROM fp GROUP BY fp
"""


# One constant feeds BOTH the Spark query and the SQL oracle so the
# bound cannot silently desync between engines (the KMEANS_ITERS rule).
_NGRAM_JACCARD_MAX_DOC_ID = 800


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise n-gram Jaccard verify over a bounded doc subset.
    max_doc_id=800 (100 through round 8, 310 through round 9): the r8
    de-vacuization picked 310 by inspecting sf0.01 only, where it yields
    8 pairs — at sf0.1 the lowest-id near-dup pair is (246, 491) with
    nothing else under 310, so the sf0.1 replica row stayed a vacuous
    0-row green and the old docstring's "both SFs" claim was false
    (VERDICT r9 / ADVICE r9 #1). 800 was chosen by enumerating every
    ≥0.5-Jaccard pair at BOTH SFs ordered by max(doc_a, doc_b): it
    captures 25 pairs at sf0.01 and 4 at sf0.1 ((246,491), (540,630),
    (379,771), (755,787)) while the O(n²) leg stays bounded at
    800²/2 = 320k candidate pairs for both engines."""
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        max_doc_id=_NGRAM_JACCARD_MAX_DOC_ID,
    )


def _ngram_jaccard_oracle() -> str:
    sh = dedup.shingles_sql("text")
    return f"""
WITH sh AS (
  SELECT doc_id, {sh} AS s FROM documents
  WHERE doc_id < {_NGRAM_JACCARD_MAX_DOC_ID}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       {hround_sql(
           "len(list_intersect(a.s, b.s)) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))",
           6)} AS jaccard
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE {hround_sql(
           "len(list_intersect(a.s, b.s)) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))",
           6)} >= 0.5
"""


DEDUP_NGRAM_JACCARD_SQL = _ngram_jaccard_oracle()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(load_table(spark, sf_dir, "documents"))


def _minhash_oracle(source: str = "documents", prefix_ctes: str = "") -> str:
    sh = dedup.shingles_sql("text")
    xid = dedup.SHINGLE_ID_SQL.format(s="u.s")
    sig_cells = ",\n  ".join(
        f"MIN(({a} * x + {b}) % {dedup.HASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup._hash_params())
    )
    band_selects = []
    for band in range(dedup.LSH_BANDS):
        cols = [f"mh_{band * dedup.LSH_ROWS + r}" for r in range(dedup.LSH_ROWS)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band, md5({key}) AS bucket_key FROM sig"
        )
    bands = "\nUNION ALL\n".join(band_selects)
    return f"""
WITH {prefix_ctes}sh AS (SELECT doc_id, {sh} AS s FROM {source}),
x AS (
  SELECT sh.doc_id, {xid} AS x
  FROM sh, LATERAL (SELECT unnest(sh.s) AS s) u
),
sig AS (
  SELECT doc_id,
  {sig_cells}
  FROM x GROUP BY doc_id
),
bands AS (
{bands}
),
ok AS (
  SELECT band, bucket_key FROM bands
  GROUP BY band, bucket_key
  HAVING COUNT(*) <= {dedup.LSH_MAX_BUCKET}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN ok ON ok.band = a.band AND ok.bucket_key = a.bucket_key
JOIN bands b ON a.band = b.band AND a.bucket_key = b.bucket_key
            AND a.doc_id < b.doc_id
"""


DEDUP_MINHASH_LSH_SQL = _minhash_oracle()


def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates → exact Jaccard verify in one plan (the complete
    scale-path dedup pipeline; see operators/dedup.py)."""
    return dedup.minhash_lsh_verified(load_table(spark, sf_dir, "documents"))


def _minhash_verified_oracle(threshold: float = 0.5) -> str:
    sh = dedup.shingles_sql("text")
    jac = "len(list_intersect(a.s, b.s)) / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"
    return f"""
WITH cand AS ({_minhash_oracle()}),
sh AS (SELECT doc_id, {sh} AS s FROM documents)
SELECT c.doc_a, c.doc_b, {hround_sql(jac, 6)} AS jaccard
FROM cand c
JOIN sh a ON a.doc_id = c.doc_a
JOIN sh b ON b.doc_id = c.doc_b
WHERE {hround_sql(jac, 6)} >= {threshold}
"""


DEDUP_MINHASH_VERIFIED_SQL = _minhash_verified_oracle()


def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing recall audit for the MinHash-LSH family — the one
    near-dup family that previously lacked one (SimHash, containment
    and fuzzy blocking each carry theirs). Unlike the pigeonhole
    families, LSH recall is PROBABILISTIC (P(candidate) = 1-(1-j^r)^b),
    so the audit doesn't hard-code totality: on the bounded subset
    (doc_id < 500) it compares brute-force Jaccard-&ge;-0.5 ground
    truth against the banded-verified pipeline per Jaccard decile, and
    the oracle re-derives BOTH legs from the frozen hash params — any
    banding/signature regression shifts n_matched and hash-fails the
    driver check. This fixture's pair population is bimodal (near-dups
    sit at 0.9+, everything else under 0.2), so the populated decile
    is the 0.9 bucket where the 4-band/4-row S-curve predicts
    P(candidate) ≈ 0.99 — the audit pins the LSH miss pattern exactly,
    cross-engine."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    sh = ensure_parallelism(docs).select(
        "doc_id", dedup.shingles_col(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hround(inter / union, 6).alias("jaccard"))
        .where(F.col("jaccard") >= 0.5)
    )
    got = dedup.minhash_lsh_verified(docs).select(
        F.col("doc_a").alias("g_a"), F.col("doc_b").alias("g_b")
    )
    joined = truth.join(
        got,
        (F.col("doc_a") == F.col("g_a")) & (F.col("doc_b") == F.col("g_b")),
        "left",
    )
    bucket = F.floor(F.col("jaccard") * 10).cast("long")
    return (
        joined.groupBy(bucket.alias("jac_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.col("g_a").isNotNull().cast("long")).alias("n_matched"),
        )
        .orderBy("jac_decile")
    )


def _minhash_recall_oracle() -> str:
    sh = dedup.shingles_sql("text")
    jac = (
        "len(list_intersect(a.s, b.s)) / "
        "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"
    )
    cand = _minhash_oracle(
        source="sub", prefix_ctes="sub AS (SELECT * FROM documents WHERE doc_id < 500),\n"
    ).strip()
    return f"""
WITH got AS ({cand}),
sh AS (SELECT doc_id, {sh} AS s FROM documents WHERE doc_id < 500),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, {hround_sql(jac, 6)} AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE {hround_sql(jac, 6)} >= 0.5
),
verified AS (
  SELECT g.doc_a, g.doc_b FROM got g
  JOIN sh a ON a.doc_id = g.doc_a
  JOIN sh b ON b.doc_id = g.doc_b
  WHERE {hround_sql(jac, 6)} >= 0.5
)
SELECT CAST(floor(t.jaccard * 10) AS BIGINT) AS jac_decile,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN v.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_matched
FROM truth t
LEFT JOIN verified v ON v.doc_a = t.doc_a AND v.doc_b = t.doc_b
GROUP BY floor(t.jaccard * 10)
ORDER BY jac_decile
"""


DEDUP_MINHASH_RECALL_SQL = _minhash_recall_oracle()


def dedup_minhash_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the MinHash-LSH candidate graph —
    document-side transitive-closure survivorship (the embedding-side
    twin is ``dedup_embedding_components``)."""
    pairs = dedup.minhash_lsh_candidates(load_table(spark, sf_dir, "documents"))
    comps = dedup.connected_components(pairs, src="doc_a", dst="doc_b")
    return comps.select(
        F.col("id").cast("long").alias("doc_id"),
        F.col("component_id").cast("long").alias("component_id"),
    )


def _minhash_components_oracle() -> str:
    # reuse the candidate-pair oracle as the edge list, then recursive
    # reachability (same construction as the embedding components)
    edges = _minhash_oracle().strip().rstrip()
    return f"""
WITH RECURSIVE
pairs AS ({edges}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.lbl FROM reach JOIN sym s ON s.a = reach.id
)
SELECT id AS doc_id, MIN(lbl) AS component_id
FROM reach GROUP BY id
"""


DEDUP_MINHASH_COMPONENTS_SQL = _minhash_components_oracle()


def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality proxy (mean token negative log-probability)."""
    return text.unigram_logprob(load_table(spark, sf_dir, "documents"))


TEXT_UNIGRAM_LOGPROB_SQL = f"""
WITH {_TOKS_CTE},
counts AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
totals AS (SELECT SUM(c) AS n_corpus, COUNT(*) AS v_vocab FROM counts)
SELECT t.doc_id,
       COUNT(*) AS n_tokens,
       {hround_sql("AVG(-ln((c + 1.0) / (n_corpus + v_vocab)))", 6)} AS mean_neg_logprob
FROM toks t
JOIN counts USING (token)
CROSS JOIN totals
GROUP BY t.doc_id
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = dedup.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3, max_doc_id=100
    )
    return df.select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


def _simhash_oracle() -> str:
    bits = dedup.SIMHASH_BITS
    hexw = 8 if bits <= 32 else 15  # mirrors dedup.simhash's hash width
    bit_cells = ",\n  ".join(
        f"CAST(SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s_{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    return rf"""
WITH tok AS (
  SELECT d.doc_id, u.tok
  FROM documents d,
       LATERAL (SELECT unnest(list_distinct(
         regexp_split_to_array(trim(lower(d.text)), '\s+'))) AS tok) u
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, {hexw})) AS BIGINT) AS h FROM tok
),
bits AS (
  SELECT doc_id,
  {bit_cells}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits WHERE doc_id < 100
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


DEDUP_SIMHASH_SQL = _simhash_oracle()


def dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs over the FULL corpus via pigeonhole banding
    (operators/dedup.py::simhash_banded_pairs): any pair within Hamming
    ≤ 3 shares at least one of 4 exact signature bands, so candidates
    come from a keyed bucket groupBy and the Hamming verify touches
    candidates only — the scale path that replaces the bounded
    all-pairs twin (dedup_simhash)."""
    df = dedup.simhash_banded_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=3
    )
    return df.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("doc_a", "doc_b")


def _simhash_banded_oracle(
    max_hamming: int = 3,
    bits: int | None = None,
    source: str = "documents",
    prefix_ctes: str = "",
) -> str:
    """SQL twin of simhash_banded_pairs, parameterized over signature
    width and source relation so composed stages (exact-first staging)
    can reuse the whole chain."""
    bits = dedup.SIMHASH_BITS if bits is None else bits
    hexw = 8 if bits <= 32 else 15  # mirrors dedup.simhash's hash width
    cap = dedup.LSH_MAX_BUCKET
    bit_cells = ",\n  ".join(
        f"CAST(SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s_{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {shift}) & {(1 << width) - 1}"
        f" AS val FROM sig"
        for b, (shift, width) in enumerate(
            dedup.simhash_band_widths(bits, max_hamming)
        )
    )
    return rf"""
WITH {prefix_ctes}tok AS (
  SELECT d.doc_id, u.tok
  FROM {source} d,
       LATERAL (SELECT unnest(list_distinct(
         regexp_split_to_array(trim(lower(d.text)), '\s+'))) AS tok) u
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, {hexw})) AS BIGINT) AS h FROM tok
),
bits AS (
  SELECT doc_id,
  {bit_cells}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
),
bands AS (
  {band_union}
),
ok AS (
  SELECT band, val FROM bands GROUP BY band, val
  HAVING count(*) BETWEEN 2 AND {cap}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN ok ON ok.band = a.band AND ok.val = a.val
  JOIN bands b ON b.band = a.band AND b.val = a.val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


DEDUP_SIMHASH_BANDED_SQL = _simhash_banded_oracle()


def dedup_simhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall audit of the banded candidate generator against all-pairs
    ground truth on the bounded subset (doc_id < 100): per Hamming
    distance, ground-truth pair count and how many the banded path
    recovered. The pigeonhole guarantee says recall is TOTAL whenever
    no bucket overflows — this query is the standing proof the driver
    re-checks every round (a regression in banding shows up as
    n_banded < n_true)."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    truth = dedup.simhash_near_pairs(docs, max_hamming=3)
    banded = dedup.simhash_banded_pairs(docs, max_hamming=3).select(
        F.col("doc_a").alias("b_a"), F.col("doc_b").alias("b_b")
    )
    joined = truth.join(
        banded,
        (F.col("doc_a") == F.col("b_a")) & (F.col("doc_b") == F.col("b_b")),
        "left",
    )
    return (
        joined.groupBy("hamming")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.col("b_a").isNotNull().cast("long")).alias("n_banded"),
        )
        .select(
            F.col("hamming").cast("long").alias("hamming"), "n_true", "n_banded"
        )
        .orderBy("hamming")
    )


def _simhash_recall_oracle() -> str:
    # ground truth = the bounded all-pairs oracle; banded recovery =
    # the banded oracle restricted to the same subset. Recall is total
    # under the pigeonhole guarantee, so n_banded = n_true per distance.
    truth = _simhash_oracle().strip()
    return f"""
WITH truth AS ({truth})
SELECT CAST(hamming AS BIGINT) AS hamming,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(count(*) AS BIGINT) AS n_banded
FROM truth
GROUP BY hamming
ORDER BY hamming
"""


DEDUP_SIMHASH_RECALL_SQL = _simhash_recall_oracle()


# Cap chosen to be provably non-empty on the fixture (500+ docs over
# 2^(16/4)=16 band values → some bucket ≥ 32 by pigeonhole), so the
# driver check exercises the OVERFLOW branch, not the empty frame.
DEDUP_OVERFLOW_CAP = 24

# The overflow audit deliberately runs at the NARROW width (16 bits) —
# the measured-degenerate mode it exists to detect.  The repo default
# (dedup.SIMHASH_BITS) is now the 60-bit production width, at which
# this fixture produces zero overflow; auditing the narrow width keeps
# the driver exercising the overflow branch rather than an empty frame.
OVERFLOW_AUDIT_BITS = 16


def dedup_simhash_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-overflow observability for the banded SimHash path
    (operators/dedup.py::simhash_banded_overflow — ADVICE r5): every
    pigeonhole bucket above the cap, i.e. exactly the document groups
    the candidate generator SKIPS. At 16-bit signatures a corpus
    beyond ~16K docs overflows every bucket and recall silently
    collapses; this report is how a run detects that and knows to
    stage exact dedup first or widen the signature. One keyed agg over
    the band projection — same cost class as the candidate stage
    itself. Pinned to the 16-bit audit width (OVERFLOW_AUDIT_BITS) so
    the overflow branch stays exercised now that the repo default is
    60 bits."""
    df = dedup.simhash_banded_overflow(
        load_table(spark, sf_dir, "documents"),
        max_hamming=3,
        bits=OVERFLOW_AUDIT_BITS,
        max_bucket_size=DEDUP_OVERFLOW_CAP,
    )
    return df.select(
        F.col("band").cast("long").alias("band"),
        F.col("val").cast("long").alias("val"),
        F.col("n_docs").cast("long").alias("n_docs"),
    ).orderBy("band", "val")


def _simhash_overflow_oracle(max_hamming: int = 3) -> str:
    bits = OVERFLOW_AUDIT_BITS  # audits the degenerate narrow width on purpose
    bit_cells = ",\n  ".join(
        f"CAST(SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s_{j}"
        for j in range(bits)
    )
    sig = " + ".join(
        f"CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(bits)
    )
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {shift}) & {(1 << width) - 1}"
        f" AS val FROM sig"
        for b, (shift, width) in enumerate(
            dedup.simhash_band_widths(bits, max_hamming)
        )
    )
    return rf"""
WITH tok AS (
  SELECT d.doc_id, u.tok
  FROM documents d,
       LATERAL (SELECT unnest(list_distinct(
         regexp_split_to_array(trim(lower(d.text)), '\s+'))) AS tok) u
),
h AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT) AS h FROM tok
),
bits AS (
  SELECT doc_id,
  {bit_cells}
  FROM h GROUP BY doc_id
),
sig AS (
  SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM bits
),
bands AS (
  {band_union}
)
SELECT CAST(band AS BIGINT) AS band, CAST(val AS BIGINT) AS val,
       CAST(count(*) AS BIGINT) AS n_docs
FROM bands GROUP BY band, val
HAVING count(*) > {DEDUP_OVERFLOW_CAP}
ORDER BY band, val
"""


DEDUP_SIMHASH_OVERFLOW_SQL = _simhash_overflow_oracle()


STAGED_SIMHASH_BITS = 60  # production-width signatures: affordable once exact dups are gone


def dedup_simhash_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup composition (VERDICT r5 #3): exact dedup
    FIRST (fingerprint groupBy → keep the min id per group), then
    banded SimHash near-pairs over the exact SURVIVORS only, at 60-bit
    signatures (the production width — 4 bands × 15 bits at
    max_hamming=3, so band values stay selective as the corpus grows;
    the narrow widths collapse template-heavy corpora into huge
    near-dup blobs, measured at 300K+ pairs for 32-bit on this
    fixture vs ~3K genuine near-dups at 60). This is the prescription
    PERFORMANCE.md documents for duplication-heavy corpora promoted to
    a first-class query: exact staging removes the byte-identical
    cliques that would otherwise land under the bucket cap and explode
    the candidate set (the measured degenerate mode where the unstaged
    32-bit form dies at 100×). Cost: one fingerprint shuffle + the banded path's
    keyed aggs — never doc × doc."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    survivors = dedup.exact_survivors(docs)
    pairs = dedup.simhash_banded_pairs(
        survivors, max_hamming=3, bits=STAGED_SIMHASH_BITS
    )
    return pairs.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("doc_a", "doc_b")


def _simhash_staged_oracle() -> str:
    prefix = r"""fpx AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
),
canonx AS (SELECT MIN(doc_id) AS doc_id FROM fpx GROUP BY fp),
survivors AS (
  SELECT d.doc_id, d.text FROM documents d JOIN canonx USING (doc_id)
),
"""
    return _simhash_banded_oracle(
        max_hamming=3,
        bits=STAGED_SIMHASH_BITS,
        source="survivors",
        prefix_ctes=prefix,
    )


DEDUP_SIMHASH_STAGED_SQL = _simhash_staged_oracle()


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc winnowing fingerprint stats (Schleimer et al. 2003, the
    MOSS selection rule): min k-gram hash per window of w consecutive
    hashes — position-robust with a guaranteed shared fingerprint for
    any copied run of >= k + w - 1 tokens. Map-side array expressions
    only; see operators/dedup.py::winnow_stats."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_stats(docs).orderBy("doc_id")


def _winnow_fps_sql(k: int, w: int) -> str:
    """DuckDB expression chain: toks → k-gram hashes → window minima →
    sorted distinct fingerprints (columns t/n/hs/fps)."""
    gram_hash = (
        "CAST(('0x' || substr(md5(array_to_string("
        f"list_slice(t, i, i + {k - 1}), ' ')), 1, 15)) AS BIGINT)"
    )
    return rf"""
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
  FROM documents
),
grams AS (
  SELECT doc_id, n,
         CASE WHEN n >= {k}
              THEN list_transform(generate_series(1, n - {k} + 1), i -> {gram_hash})
              ELSE [] END AS hs
  FROM toks
),
fps AS (
  SELECT doc_id, n,
         CASE WHEN n >= {k + w - 1}
              THEN list_sort(list_distinct(
                     list_transform(generate_series(1, len(hs) - {w} + 1),
                                    j -> list_min(list_slice(hs, j, j + {w - 1})))))
              ELSE [] END AS fp_list
  FROM grams
)"""


def _winnow_stats_oracle() -> str:
    k, w = dedup.WINNOW_K, dedup.WINNOW_W
    return f"""
WITH {_winnow_fps_sql(k, w)}
SELECT doc_id,
       CAST(greatest(n - {k} + 1, 0) AS BIGINT) AS n_kgrams,
       CAST(len(fp_list) AS BIGINT) AS n_fingerprints,
       CASE WHEN n - {k} + 1 > 0
            THEN {hround_sql(f"len(fp_list) / (n - {k} + 1)", 6)}
            ELSE 0.0 END AS density
FROM fps
ORDER BY doc_id
"""


TEXT_WINNOW_FINGERPRINTS_SQL = _winnow_stats_oracle()


def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs: docs sharing >= 2 winnowing
    fingerprints, pairs expanded inside capped fingerprint buckets —
    alignment-proof by the winnowing coverage guarantee
    (operators/dedup.py::winnow_shared_pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    df = dedup.winnow_shared_pairs(docs)
    return df.select(
        "doc_a", "doc_b", F.col("n_shared").cast("long").alias("n_shared")
    ).orderBy("doc_a", "doc_b")


def _winnow_pairs_oracle(min_shared: int = 2) -> str:
    k, w = dedup.WINNOW_K, dedup.WINNOW_W
    cap = dedup.LSH_MAX_BUCKET
    return f"""
WITH {_winnow_fps_sql(k, w)},
ex AS (SELECT doc_id, u.fp FROM fps, unnest(fp_list) AS u(fp)),
ok AS (
  SELECT fp FROM ex GROUP BY fp HAVING count(*) BETWEEN 2 AND {cap}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS n_shared
FROM ex a
JOIN ok ON ok.fp = a.fp
JOIN ex b ON b.fp = a.fp AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= {min_shared}
ORDER BY doc_a, doc_b
"""


DEDUP_WINNOW_PAIRS_SQL = _winnow_pairs_oracle()


# ---------------------------------------------------------------------------
# similarity search

_DOT = (
    "list_reduce(list_transform(generate_series(1, len({a})), i -> {a}[i] * {b}[i]),"
    " (x, y) -> x + y)"
)
_NORM = "sqrt(list_reduce(list_transform({a}, x -> x * x), (x, y) -> x + y))"


def _cos_sql(a: str, b: str) -> str:
    na = _NORM.format(a=a)
    nb = _NORM.format(a=b)
    d = _DOT.format(a=a, b=b)
    return f"CASE WHEN {na} = 0 OR {nb} = 0 THEN NULL ELSE {d} / ({na} * {nb}) END"


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk(load_table(spark, sf_dir, "embeddings"))


def _cosine_topk_oracle() -> str:
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 10),
sims AS (
  SELECT q.query_id, b.vec_id AS cand_id,
         {hround_sql(_cos_sql("q.qv", "b.v"), 6)} AS cos_sim
  FROM base b JOIN q ON b.vec_id != q.query_id
)
SELECT query_id,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, cand_id ASC) AS rnk,
       cand_id, cos_sim
FROM sims
QUALIFY rnk <= 5
"""


SIM_COSINE_TOPK_SQL = _cosine_topk_oracle()


def sim_lsh_bucket_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = similarity.lsh_bucket_topk(load_table(spark, sf_dir, "embeddings"))
    return df.select("query_id", F.col("rnk").cast("long").alias("rnk"), "cand_id", "cos_sim")


def _plane_proj_sql(vec: str, plane: int, dim: int = 64) -> str:
    comp = (
        f"((({similarity.PLANE_MIX} * ({plane * dim} + i)) % {similarity.PLANE_MOD})"
        f" / {float(2**31)} - 1.0)"
    )
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> {vec}[i] * {comp}), (x, y) -> x + y)"
    )


def _lsh_topk_oracle() -> str:
    bucket = " + ".join(
        f"CASE WHEN {_plane_proj_sql('v', p)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(similarity.N_PLANES)
    )
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
bucketed AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM base),
q AS (SELECT vec_id AS query_id, v AS qv, bucket AS qbucket
      FROM bucketed WHERE vec_id < 10),
sims AS (
  SELECT q.query_id, b.vec_id AS cand_id,
         {hround_sql(_cos_sql("q.qv", "b.v"), 6)} AS cos_sim
  FROM bucketed b
  JOIN q ON b.bucket = q.qbucket AND b.vec_id != q.query_id
)
SELECT query_id,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, cand_id ASC) AS rnk,
       cand_id, cos_sim
FROM sims
QUALIFY rnk <= 3
"""


SIM_LSH_BUCKET_TOPK_SQL = _lsh_topk_oracle()


def sim_lsh_buckets_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    buckets = similarity.lsh_buckets(load_table(spark, sf_dir, "embeddings"))
    return buckets.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vectors"))


def _lsh_histogram_oracle() -> str:
    bucket = " + ".join(
        f"CASE WHEN {_plane_proj_sql('v', p)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(similarity.N_PLANES)
    )
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT CAST({bucket} AS BIGINT) AS bucket, COUNT(*) AS n_vectors
FROM base GROUP BY 1
"""


SIM_LSH_BUCKETS_HISTOGRAM_SQL = _lsh_histogram_oracle()


# ---------------------------------------------------------------------------
# multimodal (binary payload plumbing, stubbed decode)


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN against the fixed (pretrained-style) coarse quantizer —
    fully relational, hash-oracled (VERDICT r1 item 2). The sample-
    trained variant (:func:`operators.similarity.ivf_search_topk`) stays
    recall-tested in ``tests/test_scale_ops.py::TestIvfAnn``."""
    return similarity.ivf_fixed_search_topk(load_table(spark, sf_dir, "embeddings"))


def _cent_d2_sql(vec: str, cluster: str, dim: int = 64) -> str:
    """Squared L2 distance to fixed centroid — same integer-mixed
    component stream and left-fold order as
    ``similarity.centroid_component`` / ``centroid_d2``."""
    comp = (
        f"((({similarity.CENT_MIX} * ({cluster} * {dim} + i)) % {similarity.PLANE_MOD})"
        f" / {float(2**31)} - 1.0)"
    )
    return (
        f"list_reduce(list_transform(generate_series(1, {dim}),"
        f" i -> ({vec}[i] - {comp}) * ({vec}[i] - {comp})), (x, y) -> x + y)"
    )


def _ivf_fixed_oracle(
    k: int = 3, n_queries: int = 10, nprobe: int = 2, n_clusters: int = 16
) -> str:
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cl AS (SELECT unnest(generate_series(0, {n_clusters - 1})) AS c),
assigned AS (
  SELECT vec_id, v, cluster FROM (
    SELECT b.vec_id, b.v, cl.c AS cluster,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_cent_d2_sql('b.v', 'cl.c')} ASC, cl.c ASC) AS rn
    FROM base b, cl
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < {n_queries}),
probes AS (
  SELECT query_id, cluster FROM (
    SELECT q.query_id, cl.c AS cluster,
           ROW_NUMBER() OVER (PARTITION BY q.query_id
                              ORDER BY {_cent_d2_sql('q.qv', 'cl.c')} ASC, cl.c ASC) AS pr
    FROM q, cl
  ) WHERE pr <= {nprobe}
),
sims AS (
  SELECT q.query_id, a.vec_id AS cand_id,
         {hround_sql(_cos_sql("q.qv", "a.v"), 6)} AS cos_sim
  FROM assigned a
  JOIN probes p ON a.cluster = p.cluster
  JOIN q ON q.query_id = p.query_id AND a.vec_id != q.query_id
)
SELECT query_id,
       ROW_NUMBER() OVER (PARTITION BY query_id
                          ORDER BY cos_sim DESC, cand_id ASC) AS rnk,
       cand_id, cos_sim
FROM sims
QUALIFY rnk <= {k}
"""


SIM_IVF_TOPK_SQL = _ivf_fixed_oracle()


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup (LSH-blocked pairs + keep-min-id
    survivorship) — see :func:`operators.similarity.embedding_neardup`."""
    return similarity.embedding_neardup(load_table(spark, sf_dir, "embeddings"))


def _embedding_neardup_oracle(threshold: float = 0.2) -> str:
    bucket = " + ".join(
        f"CASE WHEN {_plane_proj_sql('v', p)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(similarity.N_PLANES)
    )
    return f"""
WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM base),
ok AS (SELECT bucket FROM bucketed GROUP BY bucket
       HAVING COUNT(*) <= {similarity.EMB_MAX_BUCKET}),
sims AS (
  SELECT r.vec_id AS dup_id, l.vec_id AS keep_cand,
         {hround_sql(_cos_sql("l.v", "r.v"), 6)} AS cos_sim
  FROM bucketed l JOIN bucketed r
    ON l.bucket = r.bucket AND l.vec_id < r.vec_id
  JOIN ok ON ok.bucket = l.bucket
)
SELECT dup_id, MIN(keep_cand) AS keep_id, MAX(cos_sim) AS best_sim,
       COUNT(*) AS n_matches
FROM sims WHERE cos_sim >= {threshold}
GROUP BY dup_id
"""


DEDUP_EMBEDDING_COSINE_SQL = _embedding_neardup_oracle()


def dedup_embedding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure survivorship (VERDICT r1 item 7): iterative
    min-label connected components over the near-dup pair graph, so
    chains a–b–c collapse into one cluster. Oracle: DuckDB recursive-CTE
    reachability over the identical edge list."""
    return similarity.embedding_neardup_components(
        load_table(spark, sf_dir, "embeddings")
    )


def _embedding_components_oracle(threshold: float = 0.2) -> str:
    bucket = " + ".join(
        f"CASE WHEN {_plane_proj_sql('v', p)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(similarity.N_PLANES)
    )
    return f"""
WITH RECURSIVE
base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bucketed AS (SELECT vec_id, v, CAST({bucket} AS BIGINT) AS bucket FROM base),
ok AS (SELECT bucket FROM bucketed GROUP BY bucket
       HAVING COUNT(*) <= {similarity.EMB_MAX_BUCKET}),
edges AS (
  SELECT l.vec_id AS a, r.vec_id AS b
  FROM bucketed l JOIN bucketed r
    ON l.bucket = r.bucket AND l.vec_id < r.vec_id
  JOIN ok ON ok.bucket = l.bucket
  WHERE {hround_sql(_cos_sql("l.v", "r.v"), 6)} >= {threshold}
),
sym AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.lbl FROM reach JOIN sym s ON s.a = reach.id
)
SELECT id AS vec_id, MIN(lbl) AS component_id
FROM reach GROUP BY id
"""


DEDUP_EMBEDDING_COMPONENTS_SQL = _embedding_components_oracle()


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads.

    Oracle note (ADVICE r2): the stub-only SQL twin is exact — not a
    fixture accident — because payloads here come from
    ``documents_as_binary`` (UTF-8 text encode) and no UTF-8 byte
    stream can start with 0x89, the PNG magic's first byte (0x89 is a
    continuation byte; a leading code point ≥ U+0080 encodes to
    0xC2–0xF4). The real-PNG decode branch is therefore structurally
    unreachable on this input; it is exercised separately on genuine
    PNG payloads in ``tests/test_scale_ops.py`` (TestRealPngDecode).
    """
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.extract_features(multimodal.documents_as_binary(docs))


MULTIMODAL_FEATURES_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte,
       CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width,
       CAST((ascii(substr(text, 1, 1)) * 7) % 480 AS BIGINT) AS fake_height,
       'stub' AS decoder
FROM documents
"""


def multimodal_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (dHash) over binary payloads — the
    near-duplicate-image signal for multimodal dedup
    (operators/multimodal.py::image_dhash). Same oracle note as
    multimodal_features: documents-as-binary payloads are UTF-8 text,
    which can never start with the PNG magic byte 0x89, so the stub
    branch is structurally the only reachable one here; the REAL PNG
    dhash (decode → 9×8 grayscale → gradient bits) is exercised on
    genuine PNGs in tests/test_scale_ops.py (TestRealPngDecode)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.image_dhash(multimodal.documents_as_binary(docs)).orderBy(
        "doc_id"
    )


MULTIMODAL_DHASH_SQL = """
SELECT doc_id,
       CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS dhash,
       'stub' AS decoder
FROM documents
ORDER BY doc_id
"""


DHASH_DUP_SLICE = 50  # injected duplicate payloads: doc_id < 50 re-keyed
DHASH_DUP_OFFSET = 1_000_000


def multimodal_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate images by perceptual hash: banded Hamming pairs
    over the dHash signatures (the generic pigeonhole machinery,
    operators/dedup.py::banded_hamming_pairs, applied to a 64-bit image
    hash). Duplicates are injected deterministically (the first 50
    payloads re-keyed +10⁶ — same convention as events_dedup's
    self-union) because the text-as-binary fixture has no byte-equal
    payloads of its own; survivors are exactly the equal-payload pairs,
    oracle-checked end to end."""
    docs = load_table(spark, sf_dir, "documents")
    dup = docs.where(F.col("doc_id") < DHASH_DUP_SLICE).withColumn(
        "doc_id", F.col("doc_id") + F.lit(DHASH_DUP_OFFSET)
    )
    sigs = multimodal.image_dhash(
        multimodal.documents_as_binary(docs.unionByName(dup))
    ).select("doc_id", "dhash")
    df = dedup.banded_hamming_pairs(sigs, "dhash", max_hamming=3, bits=64)
    return df.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    ).orderBy("doc_a", "doc_b")


def _dhash_pairs_oracle(max_hamming: int = 3) -> str:
    cap = dedup.LSH_MAX_BUCKET
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {b} AS band, (dhash >> {s}) & {(1 << w) - 1}"
        f" AS val FROM sig"
        for b, (s, w) in enumerate(dedup.simhash_band_widths(64, max_hamming))
    )
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DHASH_DUP_OFFSET}, text FROM documents
  WHERE doc_id < {DHASH_DUP_SLICE}
),
sig AS (
  SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS dhash
  FROM corpus
),
bands AS (
  {band_union}
),
ok AS (
  SELECT band, val FROM bands GROUP BY band, val
  HAVING count(*) BETWEEN 2 AND {cap}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a
  JOIN ok ON ok.band = a.band AND ok.val = a.val
  JOIN bands b ON b.band = a.band AND b.val = a.val AND a.doc_id < b.doc_id
)
SELECT c.doc_a, c.doc_b,
       CAST(bit_count(xor(sa.dhash, sb.dhash)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.doc_a
JOIN sig sb ON sb.doc_id = c.doc_b
WHERE bit_count(xor(sa.dhash, sb.dhash)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""


MULTIMODAL_DHASH_PAIRS_SQL = _dhash_pairs_oracle()


def multimodal_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-dedup decision table (VERDICT r5 #5): every payload in
    the corpus (plus the injected duplicate slice, same convention as
    multimodal_dhash_pairs) labeled kept / dropped_near with its
    canonical id — perceptual-hash near-pairs → connected components →
    one decision projection, completing the decision-table family
    (lexical / semantic / full-recipe / image). canonical_id is the
    component min, which is transitively kept by construction (the min
    labels its own component), the dedup_decisions contract.

    Staged like every other decision table (round-6 fix): identical
    signatures (Hamming 0 — byte-identical or stub-identical images)
    collapse to one representative per dhash FIRST, and the banded
    pair generation plus components run over distinct signatures only.
    On a duplication-heavy corpus the unstaged form expands every
    identical-signature clique quadratically inside its band buckets
    (measured 93 s at 100× data vs 2 s at 1× before this change); the
    staged form is equivalent — same-signature docs are each other's
    near-dups at distance 0, so components over representatives plus
    group membership reconstruct the full components exactly — and the
    banding sees each signature once."""
    docs = load_table(spark, sf_dir, "documents")
    dup = docs.where(F.col("doc_id") < DHASH_DUP_SLICE).withColumn(
        "doc_id", F.col("doc_id") + F.lit(DHASH_DUP_OFFSET)
    )
    corpus = docs.unionByName(dup)
    sigs = multimodal.image_dhash(
        multimodal.documents_as_binary(corpus)
    ).select("doc_id", "dhash")
    canon = sigs.groupBy("dhash").agg(F.min("doc_id").alias("rep_id"))
    reps = canon.select(F.col("rep_id").alias("doc_id"), "dhash")
    pairs = dedup.banded_hamming_pairs(reps, "dhash", max_hamming=3, bits=64)
    comps = dedup.connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("rep_id"), "component_id"
    )
    out = (
        sigs.join(canon, "dhash")
        .join(comps, "rep_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", "rep_id").alias("canon"),
        )
    )
    decision = F.when(
        F.col("canon") != F.col("doc_id"), F.lit("dropped_near")
    ).otherwise(F.lit("kept"))
    return out.select(
        "doc_id",
        decision.alias("decision"),
        F.col("canon").cast("long").alias("canonical_id"),
    ).orderBy("doc_id")


def _multimodal_decisions_oracle(max_hamming: int = 3) -> str:
    cap = dedup.LSH_MAX_BUCKET
    band_union = "\n  UNION ALL\n  ".join(
        f"SELECT rep_id, {b} AS band, (dhash >> {s}) & {(1 << w) - 1}"
        f" AS val FROM canon"
        for b, (s, w) in enumerate(dedup.simhash_band_widths(64, max_hamming))
    )
    return f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {DHASH_DUP_OFFSET}, text FROM documents
  WHERE doc_id < {DHASH_DUP_SLICE}
),
sig AS (
  SELECT doc_id, CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS dhash
  FROM corpus
),
canon AS (
  SELECT dhash, MIN(doc_id) AS rep_id FROM sig GROUP BY dhash
),
bands AS (
  {band_union}
),
ok AS (
  SELECT band, val FROM bands GROUP BY band, val
  HAVING count(*) BETWEEN 2 AND {cap}
),
cand AS (
  SELECT DISTINCT a.rep_id AS doc_a, b.rep_id AS doc_b
  FROM bands a
  JOIN ok ON ok.band = a.band AND ok.val = a.val
  JOIN bands b ON b.band = a.band AND b.val = a.val AND a.rep_id < b.rep_id
),
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN canon sa ON sa.rep_id = c.doc_a
  JOIN canon sb ON sb.rep_id = c.doc_b
  WHERE bit_count(xor(sa.dhash, sb.dhash)) <= {max_hamming}
),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.lbl FROM reach JOIN sym s ON s.a = reach.id
),
comps AS (SELECT id AS rep_id, MIN(lbl) AS component_id FROM reach GROUP BY id)
SELECT s.doc_id,
       CASE WHEN COALESCE(k.component_id, c.rep_id) != s.doc_id
              THEN 'dropped_near' ELSE 'kept' END AS decision,
       CAST(COALESCE(k.component_id, c.rep_id) AS BIGINT) AS canonical_id
FROM sig s
JOIN canon c USING (dhash)
LEFT JOIN comps k ON k.rep_id = c.rep_id
ORDER BY s.doc_id
"""


MULTIMODAL_DEDUP_DECISIONS_SQL = _multimodal_decisions_oracle()


def multimodal_decode_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source decoder coverage for the perceptual-hash pipeline
    (VERDICT r5 #8): how much of each source is REALLY perceptually
    hashed (decoder='png'), deterministically stubbed (non-image
    payloads), or failed decode (corrupt image bytes → 'error' rows,
    ADVICE r5). A user reading multimodal_dhash_pairs needs this
    denominator — near-dup recall over md5 stubs is only exact-dup
    recall, and this report is where that shows. One conditional agg
    over the dhash output.

    Oracle note (same invariant as multimodal_features): this fixture's
    payloads are UTF-8 text, which can never start with the PNG magic
    byte 0x89 or the JPEG SOI byte 0xFF, so coverage here is
    structurally 100% stub; the png/jpeg/error branches are pinned on
    genuine and corrupt image bytes in tests/test_scale_ops.py
    (TestImageDhash, TestDecodeCoverage, TestJpegCodec)."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = multimodal.image_dhash(multimodal.documents_as_binary(docs)).select(
        "doc_id", "decoder"
    )
    joined = hashed.join(docs.select("doc_id", "source"), "doc_id")
    n = F.count(F.lit(1))
    n_real = F.sum(F.col("decoder").isin("png", "jpeg").cast("long"))
    return (
        joined.groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            F.sum((F.col("decoder") == "png").cast("long")).alias("n_png"),
            F.sum((F.col("decoder") == "jpeg").cast("long")).alias("n_jpeg"),
            F.sum((F.col("decoder") == "stub").cast("long")).alias("n_stub"),
            F.sum((F.col("decoder") == "error").cast("long")).alias("n_error"),
            hround(n_real / n, 6).alias("pct_real"),
        )
        .orderBy("source")
    )


MULTIMODAL_DECODE_COVERAGE_SQL = """
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS n_png,
       CAST(0 AS BIGINT) AS n_jpeg,
       CAST(count(*) AS BIGINT) AS n_stub,
       CAST(0 AS BIGINT) AS n_error,
       0.0 AS pct_real
FROM documents
GROUP BY source
ORDER BY source
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads (1 row → N frame rows via
    mapInPandas); frames are hashed for the compare — text is ASCII by
    construction so byte chunks == character chunks in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    frames = multimodal.sample_frames(multimodal.documents_as_binary(docs))
    return frames.select(
        "doc_id", "frame_index", "n_frame_bytes", F.md5("frame").alias("frame_md5")
    )


_FS, _EVERY = 256, 2

MULTIMODAL_FRAME_SAMPLE_SQL = f"""
WITH f AS (
  SELECT doc_id, u.i AS frame_index,
         substr(text, CAST(u.i * {_FS} + 1 AS INT), {_FS}) AS frame
  FROM documents,
       LATERAL (SELECT unnest(generate_series(
         0, CAST(ceil(length(text) / {_FS}.0) AS INT) - 1)) AS i) u
)
SELECT doc_id, CAST(frame_index AS BIGINT) AS frame_index,
       CAST(length(frame) AS BIGINT) AS n_frame_bytes,
       md5(frame) AS frame_md5
FROM f WHERE frame_index % {_EVERY} = 0
"""


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize plumbing over binary payloads.

    Same oracle invariant as :func:`multimodal_features`: UTF-8-encoded
    text can never start with the PNG magic byte 0x89, so the stub-only
    SQL twin is exact by construction; the real PNG resize path is
    tested on genuine PNG bytes (TestRealPngResize).
    """
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.resize_images(multimodal.documents_as_binary(docs))


MULTIMODAL_RESIZE_SQL = """
SELECT doc_id, CAST(64 AS BIGINT) AS out_width, CAST(48 AS BIGINT) AS out_height,
       CAST(length(text) AS BIGINT) AS n_bytes_in,
       CAST(least(length(text), 48) AS BIGINT) AS n_bytes_out,
       'stub' AS resizer
FROM documents
"""


QUERIES: dict[str, tuple] = {
    "text_token_counts": (text_token_counts, TEXT_TOKEN_COUNTS_SQL),
    "text_quality": (text_quality, TEXT_QUALITY_SQL),
    "text_lang_id": (text_lang_id, TEXT_LANG_ID_SQL),
    "text_fingerprint": (text_fingerprint, TEXT_FINGERPRINT_SQL),
    "text_vocabulary": (text_vocabulary, TEXT_VOCABULARY_SQL),
    "text_tfidf_topk": (text_tfidf_topk, TEXT_TFIDF_TOPK_SQL),
    "text_decontaminate": (text_decontaminate, TEXT_DECONTAMINATE_SQL),
    "text_decontaminate_bloom": (
        text_decontaminate_bloom,
        TEXT_DECONTAMINATE_BLOOM_SQL,
    ),
    "text_decontaminate_fuzzy": (
        text_decontaminate_fuzzy,
        TEXT_DECONTAMINATE_FUZZY_SQL,
    ),
    "text_repetition": (text_repetition, TEXT_REPETITION_SQL),
    "text_pii_scan": (text_pii_scan, TEXT_PII_SCAN_SQL),
    "dedup_exact_docs": (dedup_exact_docs, DEDUP_EXACT_DOCS_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_NGRAM_JACCARD_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_LSH_SQL),
    "dedup_minhash_verified": (dedup_minhash_verified, DEDUP_MINHASH_VERIFIED_SQL),
    "dedup_minhash_recall": (dedup_minhash_recall, DEDUP_MINHASH_RECALL_SQL),
    "dedup_minhash_components": (
        dedup_minhash_components,
        DEDUP_MINHASH_COMPONENTS_SQL,
    ),
    "text_unigram_logprob": (text_unigram_logprob, TEXT_UNIGRAM_LOGPROB_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_simhash_banded": (dedup_simhash_banded, DEDUP_SIMHASH_BANDED_SQL),
    "dedup_simhash_recall": (dedup_simhash_recall, DEDUP_SIMHASH_RECALL_SQL),
    "dedup_simhash_overflow": (dedup_simhash_overflow, DEDUP_SIMHASH_OVERFLOW_SQL),
    "dedup_simhash_staged": (dedup_simhash_staged, DEDUP_SIMHASH_STAGED_SQL),
    "text_winnow_fingerprints": (
        text_winnow_fingerprints,
        TEXT_WINNOW_FINGERPRINTS_SQL,
    ),
    "dedup_winnow_pairs": (dedup_winnow_pairs, DEDUP_WINNOW_PAIRS_SQL),
    "dedup_embedding_cosine": (dedup_embedding_cosine, DEDUP_EMBEDDING_COSINE_SQL),
    "dedup_embedding_components": (
        dedup_embedding_components,
        DEDUP_EMBEDDING_COMPONENTS_SQL,
    ),
    "sim_cosine_topk": (sim_cosine_topk, SIM_COSINE_TOPK_SQL),
    "sim_lsh_bucket_topk": (sim_lsh_bucket_topk, SIM_LSH_BUCKET_TOPK_SQL),
    "sim_lsh_buckets_histogram": (
        sim_lsh_buckets_histogram,
        SIM_LSH_BUCKETS_HISTOGRAM_SQL,
    ),
    "sim_ivf_topk": (sim_ivf_topk, SIM_IVF_TOPK_SQL),
    "multimodal_features": (multimodal_features, MULTIMODAL_FEATURES_SQL),
    "multimodal_dhash": (multimodal_dhash, MULTIMODAL_DHASH_SQL),
    "multimodal_dhash_pairs": (multimodal_dhash_pairs, MULTIMODAL_DHASH_PAIRS_SQL),
    "multimodal_dedup_decisions": (
        multimodal_dedup_decisions,
        MULTIMODAL_DEDUP_DECISIONS_SQL,
    ),
    "multimodal_decode_coverage": (
        multimodal_decode_coverage,
        MULTIMODAL_DECODE_COVERAGE_SQL,
    ),
    "multimodal_frame_sample": (multimodal_frame_sample, MULTIMODAL_FRAME_SAMPLE_SQL),
    "multimodal_resize": (multimodal_resize, MULTIMODAL_RESIZE_SQL),
}


# ---------------------------------------------------------------------------
# round-3 training-data prep: stratified sampling, sequence packing


STRATIFIED_RATES = {"click": 10, "view": 25, "purchase": 100, "signup": 50, "error": 5}


def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — per-stratum keep-rates via the
    md5-hash selector (engine-reproducible, unlike rand(seed); same
    convention as bounded_sample). The per-class rates are the knob every
    training-data pipeline turns to rebalance: rare classes kept at 100%,
    dominant ones downsampled. Pure map-side filter — ZERO shuffles.
    """
    events = load_table(spark, sf_dir, "events")
    sel = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
    )
    rate = F.lit(None).cast("long")
    for etype, pct in STRATIFIED_RATES.items():
        rate = F.when(F.col("event_type") == etype, F.lit(pct)).otherwise(rate)
    return events.where(sel < rate).select("event_id", "event_type", "user_id")


def _stratified_sql() -> str:
    cases = " ".join(
        f"WHEN event_type = '{t}' THEN {p}" for t, p in STRATIFIED_RATES.items()
    )
    return f"""
SELECT event_id, event_type, user_id
FROM events
WHERE CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4)) AS BIGINT) % 100
      < (CASE {cases} END)
"""


STRATIFIED_SAMPLE_SQL = _stratified_sql()

PACK_BUDGET = 2048  # tokens per packed sequence
PACK_SHARDS = 8  # independent packing shards (scale knob; see docstring)


def text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — assign documents to fixed token-budget bins,
    the data-prep step that turns a document corpus into training
    sequences. The exact greedy packer is inherently sequential; the
    scalable relational form is the standard running-total bin: within a
    shard, docs ordered by doc_id, bin = floor((cumsum − n_tokens) /
    budget), i.e. each doc lands in the bin where its tokens START.

    Scale shape: the corpus is split into ``PACK_SHARDS`` independent
    packing shards via the md5-hash selector (engine-reproducible, same
    convention as stratified_sample / bounded_sample), and the running
    sum runs ``Window.partitionBy(shard)`` — a hash-partitioned window,
    never a single-partition global sort. A packed sequence is globally
    identified by (shard_id, bin_id); shards pack independently, which
    is exactly what a 1000-executor run wants (at 100 TB raise
    PACK_SHARDS to ~#cores; each shard wastes at most one partial tail
    bin, negligible against millions of bins per shard). Oversized docs
    (> budget) still get a bin — real pipelines truncate or split them
    downstream; the bin boundary math is unaffected."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(text.tokens_col(F.col("text")))
    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % PACK_SHARDS
    )
    w = (
        Window.partitionBy("shard_id")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = docs.select(
        "doc_id", shard.alias("shard_id"), toks.cast("long").alias("n_tokens")
    )
    packed = base.select(
        "doc_id",
        "shard_id",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    )
    return packed.select(
        "doc_id",
        "shard_id",
        "n_tokens",
        ((F.col("cum_tokens") - F.col("n_tokens")) / PACK_BUDGET)
        .cast("long")
        .alias("bin_id"),
    )


TEXT_PACK_SEQUENCES_SQL = f"""
WITH t AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
           % {PACK_SHARDS} AS shard_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard_id ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM t
)
SELECT doc_id, shard_id, n_tokens,
       CAST((cum_tokens - n_tokens) // {PACK_BUDGET} AS BIGINT) AS bin_id
FROM c
"""


QUERIES["stratified_sample"] = (stratified_sample, STRATIFIED_SAMPLE_SQL)
QUERIES["text_pack_sequences"] = (text_pack_sequences, TEXT_PACK_SEQUENCES_SQL)


# ---------------------------------------------------------------------------
# round-3: chunking and dedup observability


CHUNK_SIZE = 64  # tokens per chunk
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - CHUNK_STRIDE


def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking — overlapping token windows (size 64, stride
    48), the doc→chunk fan-out every RAG / long-context training prep
    runs. Pure JVM per-row expressions (sequence + slice), no shuffle;
    chunk text is md5'd for the compare. Tail chunks shorter than the
    window are kept (real pipelines pad or drop them downstream)."""
    docs = load_table(spark, sf_dir, "documents")
    t = text.tokens_col(F.trim(F.col("text")))
    n = F.size(t)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(CHUNK_STRIDE))
    chunks = docs.select(
        "doc_id",
        t.alias("t"),
        n.alias("n"),
        F.explode(starts).alias("start"),
    )
    chunk_toks = F.slice(F.col("t"), F.col("start"), CHUNK_SIZE)
    return chunks.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("long").alias("chunk_index"),
        F.size(chunk_toks).cast("long").alias("n_tokens_chunk"),
        F.md5(F.array_join(chunk_toks, " ")).alias("chunk_md5"),
    )


TEXT_CHUNK_WINDOWS_SQL = rf"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents
),
c AS (
  SELECT doc_id, t, u.s AS start
  FROM base,
       LATERAL unnest(generate_series(1, greatest(len(t), 1), {CHUNK_STRIDE})) AS u(s)
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_index,
       CAST(len(t[start : start + {CHUNK_SIZE} - 1]) AS BIGINT) AS n_tokens_chunk,
       md5(array_to_string(t[start : start + {CHUNK_SIZE} - 1], ' ')) AS chunk_md5
FROM c
"""


def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability: the near-dup cluster-size histogram — the
    first thing to inspect after any dedup run (a fat tail means the
    corpus needed exact dedup first; see the bucket-cap guards). Two
    tiny aggs on top of the components output."""
    pairs = dedup.minhash_lsh_candidates(load_table(spark, sf_dir, "documents"))
    comps = dedup.connected_components(pairs, src="doc_a", dst="doc_b")
    return (
        comps.groupBy("component_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
        .select(F.col("cluster_size").cast("long").alias("cluster_size"), "n_clusters")
    )


def _cluster_sizes_oracle() -> str:
    comps = _minhash_components_oracle().strip()
    return f"""
WITH comps AS ({comps}),
sizes AS (
  SELECT component_id, COUNT(*) AS cluster_size
  FROM comps GROUP BY component_id
)
SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size
"""


DEDUP_CLUSTER_SIZES_SQL = _cluster_sizes_oracle()


QUERIES["text_chunk_windows"] = (text_chunk_windows, TEXT_CHUNK_WINDOWS_SQL)
QUERIES["dedup_cluster_sizes"] = (dedup_cluster_sizes, DEDUP_CLUSTER_SIZES_SQL)


def dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The user-facing artifact of the dedup pipeline: every document
    labeled kept / dropped_exact / dropped_near with its canonical id.

    Stage order matches production practice (and the bucket-cap guard's
    guidance): exact dedup FIRST (hash groupBy), then MinHash components
    over the exact survivors only, then one decision projection.
    dropped_exact → the fingerprint group's min id; dropped_near → the
    near-dup component's min id; kept → itself.
    """
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    fp = text.fingerprint(docs).select("doc_id", "fp")
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("exact_keep"))
    # labeled feeds both the survivor leg and the final decision join —
    # materialize once (lazy localCheckpoint; the 100 TB deployment
    # writes this stage boundary to a table, same topology)
    labeled = fp.join(canon, "fp").select(
        "doc_id", "exact_keep"
    ).localCheckpoint(eager=False)
    survivors = docs.join(
        labeled.where(F.col("doc_id") == F.col("exact_keep")).select("doc_id"),
        "doc_id",
    )
    pairs = dedup.minhash_lsh_candidates(survivors)
    comps = dedup.connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "component_id"
    )
    # the exact-canonical can itself be a near-dup drop — resolve
    # transitively so canonical_id ALWAYS names a kept doc (round 4;
    # the component min is its own exact keep and component, so one
    # extra hop suffices)
    keep_comp = comps.select(
        F.col("doc_id").alias("exact_keep"),
        F.col("component_id").alias("keep_component"),
    )
    out = (
        labeled.join(comps, "doc_id", "left").join(keep_comp, "exact_keep", "left")
    )
    decision = (
        F.when(F.col("doc_id") != F.col("exact_keep"), F.lit("dropped_exact"))
        .when(
            F.col("component_id").isNotNull()
            & (F.col("component_id") != F.col("doc_id")),
            F.lit("dropped_near"),
        )
        .otherwise(F.lit("kept"))
    )
    canonical = (
        F.when(
            F.col("doc_id") != F.col("exact_keep"),
            F.coalesce(F.col("keep_component"), F.col("exact_keep")),
        )
        .when(F.col("component_id").isNotNull(), F.col("component_id"))
        .otherwise(F.col("doc_id"))
    )
    return out.select(
        "doc_id",
        decision.alias("decision"),
        canonical.cast("long").alias("canonical_id"),
    )


def _dedup_decisions_ctes() -> tuple[str, str]:
    """(WITH-body, final-decision-select) so composed reports can reuse
    the full recursive chain (DuckDB allows WITH RECURSIVE only at the
    statement top, so wrapping the finished query is not an option)."""
    cand = _minhash_oracle().strip().replace("FROM documents", "FROM survivors")
    ctes = rf"""fpx AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
),
canon AS (SELECT fp, MIN(doc_id) AS exact_keep FROM fpx GROUP BY fp),
labeled AS (SELECT f.doc_id, c.exact_keep FROM fpx f JOIN canon c USING (fp)),
survivors AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN labeled l ON l.doc_id = d.doc_id AND l.doc_id = l.exact_keep
),
cand AS ({cand}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.lbl FROM reach JOIN sym s ON s.a = reach.id
),
comps AS (SELECT id AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY id)"""
    select = """SELECT l.doc_id,
       CASE WHEN l.doc_id != l.exact_keep THEN 'dropped_exact'
            WHEN k.component_id IS NOT NULL AND k.component_id != l.doc_id
              THEN 'dropped_near'
            ELSE 'kept' END AS decision,
       CAST(CASE WHEN l.doc_id != l.exact_keep
                   THEN COALESCE(k2.component_id, l.exact_keep)
                 WHEN k.component_id IS NOT NULL THEN k.component_id
                 ELSE l.doc_id END AS BIGINT) AS canonical_id
FROM labeled l
LEFT JOIN comps k ON k.doc_id = l.doc_id
LEFT JOIN comps k2 ON k2.doc_id = l.exact_keep"""
    return ctes, select


def _dedup_decisions_oracle() -> str:
    ctes, select = _dedup_decisions_ctes()
    return f"\nWITH RECURSIVE\n{ctes}\n{select}\n"


DEDUP_DECISIONS_SQL = _dedup_decisions_oracle()

QUERIES["dedup_decisions"] = (dedup_decisions, DEDUP_DECISIONS_SQL)


def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dedup observability: decision counts and keep rate
    from the staged decision table — the report a data curator reads
    after a dedup run (which domains are boilerplate-heavy, which are
    clean). One conditional agg on top of dedup_decisions."""
    decisions = dedup_decisions(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = decisions.join(src, "doc_id")
    n = F.count(F.lit(1))
    kept = F.sum((F.col("decision") == "kept").cast("long"))
    return (
        joined.groupBy("source")
        .agg(
            n.cast("long").alias("n_docs"),
            kept.alias("n_kept"),
            F.sum((F.col("decision") == "dropped_exact").cast("long")).alias(
                "n_dropped_exact"
            ),
            F.sum((F.col("decision") == "dropped_near").cast("long")).alias(
                "n_dropped_near"
            ),
            hround(kept / n, 6).alias("pct_kept"),
        )
        .orderBy("source")
    )


def _dedup_report_oracle() -> str:
    ctes, select = _dedup_decisions_ctes()
    return f"""
WITH RECURSIVE
{ctes},
decisions AS ({select})
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN decision = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN decision = 'dropped_exact' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_exact,
       CAST(sum(CASE WHEN decision = 'dropped_near' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dropped_near,
       {hround_sql("sum(CASE WHEN decision = 'kept' THEN 1 ELSE 0 END) / count(*)", 6)}
         AS pct_kept
FROM decisions x JOIN documents d USING (doc_id)
GROUP BY d.source
ORDER BY d.source
"""


CORPUS_DEDUP_REPORT_SQL = _dedup_report_oracle()

QUERIES["corpus_dedup_report"] = (corpus_dedup_report, CORPUS_DEDUP_REPORT_SQL)


def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two corpus versions — the changelog a
    data-versioning layer (Delta/Iceberg-style) derives per commit:
    every doc labeled added / removed / changed / unchanged by a full
    outer join on doc_id with content-fingerprint comparison. One
    shuffle on the id key; fingerprints are map-side md5.

    Versions are deterministic transforms of the fixture (same
    convention as dedup_incremental_batch's slice): OLD = docs with
    doc_id % 10 != 7; NEW = all docs except doc_id % 13 == 5, with
    every doc_id % 17 == 3 text edited (uppercased)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.where(F.col("doc_id") % 10 != 7).select(
        "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("old_fp")
    )
    new_text = F.when(
        F.col("doc_id") % 17 == 3, F.upper(F.col("text"))
    ).otherwise(F.col("text"))
    new = docs.where(F.col("doc_id") % 13 != 5).select(
        "doc_id", F.md5(F.encode(new_text, "UTF-8")).alias("new_fp")
    )
    joined = old.join(new, "doc_id", "full_outer")
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return joined.select("doc_id", status.alias("status")).orderBy("doc_id")


CORPUS_SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT doc_id, md5(text) AS old_fp FROM documents WHERE doc_id % 10 != 7
),
new AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 17 = 3 THEN upper(text) ELSE text END) AS new_fp
  FROM documents WHERE doc_id % 13 != 5
)
SELECT coalesce(old.doc_id, new.doc_id) AS doc_id,
       CASE WHEN old.doc_id IS NULL THEN 'added'
            WHEN new.doc_id IS NULL THEN 'removed'
            WHEN old_fp != new_fp THEN 'changed'
            ELSE 'unchanged' END AS status
FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
ORDER BY doc_id
"""

QUERIES["corpus_snapshot_diff"] = (corpus_snapshot_diff, CORPUS_SNAPSHOT_DIFF_SQL)


def corpus_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source drift between two corpus versions (same OLD/NEW
    convention as corpus_snapshot_diff): doc and token counts on each
    side with signed deltas — the release-note table a corpus version
    bump publishes, and the first thing a consumer checks before
    retraining. Two keyed aggs + one source-level join; everything
    else is map-side."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(text.tokens_col(F.col("text"))).cast("long")
    old = (
        docs.where(F.col("doc_id") % 10 != 7)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_old"),
            F.sum(toks).alias("n_tokens_old"),
        )
    )
    new = (
        docs.where(F.col("doc_id") % 13 != 5)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_new"),
            F.sum(toks).alias("n_tokens_new"),
        )
    )
    j = old.join(new, "source", "full_outer")
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return j.select(
        "source",
        z("n_docs_old").alias("n_docs_old"),
        z("n_docs_new").alias("n_docs_new"),
        (z("n_docs_new") - z("n_docs_old")).alias("docs_delta"),
        z("n_tokens_old").alias("n_tokens_old"),
        z("n_tokens_new").alias("n_tokens_new"),
        (z("n_tokens_new") - z("n_tokens_old")).alias("tokens_delta"),
    ).orderBy("source")


CORPUS_DRIFT_REPORT_SQL = r"""
WITH old_a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_old,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens_old
  FROM documents WHERE doc_id % 10 != 7 GROUP BY source
),
new_a AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_new,
         CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
           AS n_tokens_new
  FROM documents WHERE doc_id % 13 != 5 GROUP BY source
)
SELECT coalesce(o.source, n.source) AS source,
       CAST(coalesce(n_docs_old, 0) AS BIGINT) AS n_docs_old,
       CAST(coalesce(n_docs_new, 0) AS BIGINT) AS n_docs_new,
       CAST(coalesce(n_docs_new, 0) - coalesce(n_docs_old, 0) AS BIGINT)
         AS docs_delta,
       CAST(coalesce(n_tokens_old, 0) AS BIGINT) AS n_tokens_old,
       CAST(coalesce(n_tokens_new, 0) AS BIGINT) AS n_tokens_new,
       CAST(coalesce(n_tokens_new, 0) - coalesce(n_tokens_old, 0) AS BIGINT)
         AS tokens_delta
FROM old_a o FULL OUTER JOIN new_a n ON n.source = o.source
ORDER BY source
"""

QUERIES["corpus_drift_report"] = (corpus_drift_report, CORPUS_DRIFT_REPORT_SQL)


def corpus_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the two corpus versions over
    the power-of-two token-length buckets (the corpus_length_histogram
    convention — integer-exact bucket edges, no percentile
    interpolation to drift cross-engine). Laplace-smoothed shares
    p = (n + 1) / (total + K) keep empty buckets finite and
    deterministic; per-bucket PSI terms (p_new − p_old)·ln(p_new/p_old)
    plus the grand-total row (len_bucket = -1, the standard <0.1 /
    0.1-0.25 / >0.25 drift thresholds apply to it). The standing
    distribution-shift monitor a corpus version bump runs next to the
    count-level drift report."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.expr(
        r"CAST(shiftleft(1L, length(conv(greatest(size(split(trim(text),"
        r" '\\s+')), 1), 10, 2)) - 1) AS BIGINT)"
    )
    old = (
        docs.where(F.col("doc_id") % 10 != 7)
        .select(bucket.alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(F.count(F.lit(1)).alias("n_old"))
    )
    new = (
        docs.where(F.col("doc_id") % 13 != 5)
        .select(bucket.alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    j = (
        old.join(new, "len_bucket", "full_outer")
        .select(
            "len_bucket",
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
        # two consumers (per-bucket rows + the total row) — don't re-run
        # the two corpus aggs per leg
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy()
    t = j.select(
        "len_bucket",
        "n_old",
        "n_new",
        F.sum("n_old").over(w).alias("total_old"),
        F.sum("n_new").over(w).alias("total_new"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    p_old = (F.col("n_old") + 1) / (F.col("total_old") + F.col("k"))
    p_new = (F.col("n_new") + 1) / (F.col("total_new") + F.col("k"))
    term = (p_new - p_old) * F.log(p_new / p_old)
    terms = t.select(
        "len_bucket",
        "n_old",
        "n_new",
        hround(p_old, 6).alias("p_old"),
        hround(p_new, 6).alias("p_new"),
        hround(term, 6).alias("psi_term"),
        term.alias("_raw"),
    )
    total = terms.agg(
        F.lit(-1).cast("long").alias("len_bucket"),
        F.sum("n_old").alias("n_old"),
        F.sum("n_new").alias("n_new"),
        hround(F.lit(1.0), 6).alias("p_old"),
        hround(F.lit(1.0), 6).alias("p_new"),
        hround(F.sum("_raw"), 6).alias("psi_term"),
    )
    return (
        terms.drop("_raw").unionByName(total).orderBy("len_bucket")
    )


CORPUS_PSI_DRIFT_SQL = rf"""
WITH old_c AS (
  SELECT 1::BIGINT << (length(bin(greatest(
           len(regexp_split_to_array(trim(text), '\s+')), 1)::BIGINT)) - 1)
           AS len_bucket,
         CAST(count(*) AS BIGINT) AS n_old
  FROM documents WHERE doc_id % 10 != 7 GROUP BY 1
),
new_c AS (
  SELECT 1::BIGINT << (length(bin(greatest(
           len(regexp_split_to_array(trim(text), '\s+')), 1)::BIGINT)) - 1)
           AS len_bucket,
         CAST(count(*) AS BIGINT) AS n_new
  FROM documents WHERE doc_id % 13 != 5 GROUP BY 1
),
j AS (
  SELECT coalesce(o.len_bucket, n.len_bucket) AS len_bucket,
         CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
         CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
  FROM old_c o FULL OUTER JOIN new_c n ON n.len_bucket = o.len_bucket
),
t AS (
  SELECT len_bucket, n_old, n_new,
         SUM(n_old) OVER () AS total_old,
         SUM(n_new) OVER () AS total_new,
         COUNT(*) OVER () AS k
  FROM j
),
terms AS (
  SELECT len_bucket, n_old, n_new,
         (n_old + 1.0) / (total_old + k) AS p_old_raw,
         (n_new + 1.0) / (total_new + k) AS p_new_raw
  FROM t
)
SELECT len_bucket, n_old, n_new,
       {hround_sql("p_old_raw", 6)} AS p_old,
       {hround_sql("p_new_raw", 6)} AS p_new,
       {hround_sql("(p_new_raw - p_old_raw) * ln(p_new_raw / p_old_raw)", 6)}
         AS psi_term
FROM terms
UNION ALL
SELECT -1::BIGINT, CAST(SUM(n_old) AS BIGINT), CAST(SUM(n_new) AS BIGINT),
       1.0, 1.0,
       {hround_sql(
           "SUM((p_new_raw - p_old_raw) * ln(p_new_raw / p_old_raw))", 6
       )}
FROM terms
ORDER BY len_bucket
"""

QUERIES["corpus_psi_drift"] = (corpus_psi_drift, CORPUS_PSI_DRIFT_SQL)


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→eval leakage audit: for each held-out split, how many docs
    are EXACT duplicates of a training doc (fingerprint semi-join — one
    hash shuffle, complete at any scale) and how many are NEAR-dups of
    one (MinHash-banded + Jaccard-verified pairs over exact SURVIVORS,
    the staged discipline; near-leakage is decided at the canonical
    level, so byte-identical clique members inherit their canonical's
    verdict without expanding clique pairs). The eval-hygiene check a
    benchmark split must pass before a number is reported: test docs
    with a training near-dup measure memorization, not generalization.

    Output per held-out split: doc count, exact-leaked count,
    near-leaked count (exact-leaked docs excluded — the classes
    partition), and the combined leak rate. Near-leakage here is the
    PRECISE verified notion (direct Jaccard-≥-0.5 partner in train);
    the repair twin (split_leakage_repair) quarantines by the more
    conservative transitive-cluster notion — measurement vs safety."""
    docs = load_table(spark, sf_dir, "documents")
    splits = sampling.train_split(docs).select("doc_id", "split")
    fp = text.fingerprint(docs).select("doc_id", "fp")
    labeled = fp.join(splits, "doc_id")
    # exact leakage: eval doc whose fingerprint occurs among train docs
    train_fps = (
        labeled.where(F.col("split") == "train").select("fp").distinct()
    )
    # near leakage at the canonical grain over exact survivors
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canon_id"))
    survivors = docs.join(
        canon.select(F.col("canon_id").alias("doc_id")), "doc_id"
    )
    near = dedup.minhash_lsh_verified(survivors).select("doc_a", "doc_b")
    member = fp.join(canon, "fp").select("doc_id", "canon_id")
    train_canons = (
        member.join(
            splits.where(F.col("split") == "train"), "doc_id"
        )
        .select(F.col("canon_id").alias("tc"))
        .distinct()
    )
    sym = near.select(
        F.col("doc_a").alias("c"), F.col("doc_b").alias("p")
    ).unionByName(
        near.select(F.col("doc_b").alias("c"), F.col("doc_a").alias("p"))
    )
    leaked_canons = (
        sym.join(train_canons, sym["p"] == train_canons["tc"])
        .select("c")
        .distinct()
    )
    ev = (
        labeled.where(F.col("split") != "train")
        .join(member.select("doc_id", "canon_id"), "doc_id")
        .join(
            train_fps.withColumn("x_fp", F.lit(1)).withColumnRenamed(
                "fp", "tfp"
            ),
            F.col("fp") == F.col("tfp"),
            "left",
        )
        .join(
            leaked_canons.withColumn("x_near", F.lit(1)).withColumnRenamed(
                "c", "lc"
            ),
            F.col("canon_id") == F.col("lc"),
            "left",
        )
    )
    exact_flag = F.col("x_fp").isNotNull()
    near_flag = F.col("x_near").isNotNull() & ~exact_flag
    n_docs = F.count(F.lit(1))
    n_exact = F.sum(exact_flag.cast("long"))
    n_near = F.sum(near_flag.cast("long"))
    return (
        ev.groupBy("split")
        .agg(
            n_docs.alias("n_docs"),
            n_exact.alias("n_exact_leaked"),
            n_near.alias("n_near_leaked"),
            hround((n_exact + n_near) / n_docs, 6).alias("leak_rate"),
        )
        .orderBy("split")
    )


def _split_leakage_oracle() -> str:
    split_sel = sampling.hash_selector_sql("doc_id", "split", sampling.SPLIT_MOD)
    jac = (
        "len(list_intersect(a.s, b.s)) / "
        "(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))"
    )
    sh = dedup.shingles_sql("text")
    prefix = r"""fpx AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
),
canonx AS (SELECT fp, MIN(doc_id) AS canon_id FROM fpx GROUP BY fp),
survivors AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN canonx ON canonx.canon_id = d.doc_id
),
"""
    cand = _minhash_oracle(source="survivors", prefix_ctes=prefix).strip()
    return f"""
WITH cand AS ({cand}),
shs AS (SELECT doc_id, {sh} AS s FROM documents),
near AS (
  SELECT c.doc_a, c.doc_b FROM cand c
  JOIN shs a ON a.doc_id = c.doc_a
  JOIN shs b ON b.doc_id = c.doc_b
  WHERE {hround_sql(jac, 6)} >= 0.5
),
fp2 AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))),
           ' ')) AS fp
  FROM documents
),
canon2 AS (SELECT fp, MIN(doc_id) AS canon_id FROM fp2 GROUP BY fp),
member AS (SELECT f.doc_id, c.canon_id, f.fp FROM fp2 f JOIN canon2 c USING (fp)),
splits AS (
  SELECT doc_id,
         CASE WHEN {split_sel} < {sampling.SPLIT_TRAIN} THEN 'train'
              WHEN {split_sel} < {sampling.SPLIT_VAL} THEN 'validation'
              ELSE 'test' END AS split
  FROM documents
),
train_fps AS (
  SELECT DISTINCT m.fp FROM member m JOIN splits s USING (doc_id)
  WHERE s.split = 'train'
),
train_canons AS (
  SELECT DISTINCT m.canon_id FROM member m JOIN splits s USING (doc_id)
  WHERE s.split = 'train'
),
sym AS (SELECT doc_a AS c, doc_b AS p FROM near
        UNION ALL SELECT doc_b, doc_a FROM near),
leaked_canons AS (
  SELECT DISTINCT sym.c FROM sym JOIN train_canons t ON t.canon_id = sym.p
),
ev AS (
  SELECT s.split,
         CASE WHEN m.fp IN (SELECT fp FROM train_fps) THEN 1 ELSE 0 END
           AS is_exact,
         CASE WHEN m.canon_id IN (SELECT c FROM leaked_canons) THEN 1 ELSE 0
           END AS is_near
  FROM splits s JOIN member m USING (doc_id)
  WHERE s.split != 'train'
)
SELECT split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(is_exact) AS BIGINT) AS n_exact_leaked,
       CAST(sum(CASE WHEN is_near = 1 AND is_exact = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_near_leaked,
       {hround_sql(
           "CAST(sum(is_exact) + sum(CASE WHEN is_near = 1 AND is_exact = 0"
           " THEN 1 ELSE 0 END) AS DOUBLE) / count(*)", 6
       )} AS leak_rate
FROM ev GROUP BY split ORDER BY split
"""


QUERIES["split_leakage_report"] = (split_leakage_report, _split_leakage_oracle())


def docs_cluster_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup — per-doc sampling weight 1/cluster_size instead of
    dropping duplicates (the standard alternative when outright removal
    is too aggressive: a document seen N times contributes total
    expected mass 1 under weighted sampling, preserving topical balance
    while killing memorization pressure). Cluster = the transitive
    exact+near family: fingerprint groups collapse first, MinHash
    components run over exact survivors, every member inherits its
    canonical's component (the dedup_decisions staging). One fp
    shuffle, the capped LSH pipeline, two keyed joins — no pair
    expansion inside exact cliques."""
    final = _finals_spark(spark, sf_dir)
    sizes = final.groupBy("final_canonical").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        final.join(sizes, "final_canonical")
        .select(
            "doc_id",
            "final_canonical",
            "cluster_size",
            hround(F.lit(1.0) / F.col("cluster_size"), 6).alias("weight"),
        )
        .orderBy("doc_id")
    )


def _cluster_weights_oracle() -> str:
    prefix = r"""fpx AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
),
canonx AS (SELECT fp, MIN(doc_id) AS canon_id FROM fpx GROUP BY fp),
survivors AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN canonx ON canonx.canon_id = d.doc_id
),
"""
    cand = _minhash_oracle(source="survivors", prefix_ctes=prefix).strip()
    return f"""
WITH RECURSIVE
pairs AS ({cand}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.lbl FROM reach JOIN sym s ON s.a = reach.id
),
comps AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id),
fp2 AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\\s+'))),
           ' ')) AS fp
  FROM documents
),
canon2 AS (SELECT fp, MIN(doc_id) AS canon_id FROM fp2 GROUP BY fp),
finals AS (
  SELECT f.doc_id,
         CAST(coalesce(c.component_id, m.canon_id) AS BIGINT)
           AS final_canonical
  FROM fp2 f
  JOIN canon2 m USING (fp)
  LEFT JOIN comps c ON c.id = m.canon_id
),
sizes AS (
  SELECT final_canonical, CAST(count(*) AS BIGINT) AS cluster_size
  FROM finals GROUP BY final_canonical
)
SELECT f.doc_id, f.final_canonical, s.cluster_size,
       {hround_sql("1.0 / s.cluster_size", 6)} AS weight
FROM finals f JOIN sizes s USING (final_canonical)
ORDER BY f.doc_id
"""


QUERIES["docs_cluster_weights"] = (docs_cluster_weights, _cluster_weights_oracle())


def text_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency report over text_pack_sequences' bins: per
    shard, bin count, token total, capacity utilization, and the
    worst/best bin fill — the training-batch efficiency number that
    decides whether the packing budget or shard count needs tuning
    (waste is concentrated in each shard's partial tail bin and in
    oversized docs). Two keyed aggs over the packed assignment."""
    packed = text_pack_sequences(spark, sf_dir)
    per_bin = packed.groupBy("shard_id", "bin_id").agg(
        F.sum("n_tokens").alias("bin_tokens")
    )
    util = F.col("bin_tokens") / F.lit(float(PACK_BUDGET))
    return (
        per_bin.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("bin_tokens").alias("total_tokens"),
            hround(
                F.sum("bin_tokens") / (F.count(F.lit(1)) * PACK_BUDGET), 6
            ).alias("utilization"),
            hround(F.min(util), 6).alias("min_bin_util"),
            hround(F.max(util), 6).alias("max_bin_util"),
        )
        .select(
            F.col("shard_id").cast("long").alias("shard_id"),
            "n_bins",
            "total_tokens",
            "utilization",
            "min_bin_util",
            "max_bin_util",
        )
        .orderBy("shard_id")
    )


TEXT_PACK_EFFICIENCY_SQL = f"""
WITH packed AS ({TEXT_PACK_SEQUENCES_SQL.strip()}),
per_bin AS (
  SELECT shard_id, bin_id, SUM(n_tokens) AS bin_tokens
  FROM packed GROUP BY shard_id, bin_id
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum(bin_tokens) AS BIGINT) AS total_tokens,
       {hround_sql(
           f"CAST(sum(bin_tokens) AS DOUBLE) / (count(*) * {PACK_BUDGET})", 6
       )} AS utilization,
       {hround_sql(f"MIN(bin_tokens / {float(PACK_BUDGET)})", 6)} AS min_bin_util,
       {hround_sql(f"MAX(bin_tokens / {float(PACK_BUDGET)})", 6)} AS max_bin_util
FROM per_bin GROUP BY shard_id ORDER BY shard_id
"""

QUERIES["text_pack_efficiency"] = (text_pack_efficiency, TEXT_PACK_EFFICIENCY_SQL)


_FINALS_PREFIX_SQL = r"""fpx AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
),
canonx AS (SELECT fp, MIN(doc_id) AS canon_id FROM fpx GROUP BY fp),
survivors AS (
  SELECT d.doc_id, d.text FROM documents d
  JOIN canonx ON canonx.canon_id = d.doc_id
),
"""


def _finals_spark(spark: SparkSession, sf_dir: str):
    """Shared (doc_id, final_canonical) frame: fingerprint collapse →
    MinHash components over exact survivors → members inherit their
    canonical's component. One construction for the soft-dedup weights
    and the quality-survivorship queries."""
    docs = load_table(spark, sf_dir, "documents")
    fp = text.fingerprint(docs).select("doc_id", "fp")
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("canon_id"))
    member = fp.join(canon, "fp").select("doc_id", "canon_id")
    survivors = docs.join(
        canon.select(F.col("canon_id").alias("doc_id")), "doc_id"
    )
    pairs = dedup.minhash_lsh_candidates(survivors)
    comps = dedup.connected_components(pairs, src="doc_a", dst="doc_b")
    return member.join(
        comps.select(
            F.col("id").alias("canon_id"),
            F.col("component_id").alias("comp"),
        ),
        "canon_id",
        "left",
    ).select(
        "doc_id",
        F.coalesce("comp", "canon_id").cast("long").alias("final_canonical"),
    )


_FINALS_SQL_TAIL = r"""
fp2 AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
),
canon2 AS (SELECT fp, MIN(doc_id) AS canon_id FROM fp2 GROUP BY fp),
finals AS (
  SELECT f.doc_id,
         CAST(coalesce(c.component_id, m.canon_id) AS BIGINT)
           AS final_canonical
  FROM fp2 f
  JOIN canon2 m USING (fp)
  LEFT JOIN comps c ON c.id = m.canon_id
)"""


def dedup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ruled survivorship for near-dup clusters: instead of the
    min-id convention, each exact+near cluster keeps its HIGHEST-quality
    member (composite quality score; ties break to the smaller id) —
    what a curation pipeline actually wants when duplicates differ in
    OCR noise or boilerplate (keep the cleanest copy, drop the rest).
    The fuzzy_customer_golden discipline applied to document
    survivorship. Per doc: its cluster, the cluster's chosen survivor,
    and whether this doc survives. One window over cluster-sized
    partitions on top of the shared cluster construction."""
    from pyspark.sql import Window

    finals = _finals_spark(spark, sf_dir)
    q = text.quality_score(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "quality"
    )
    scored = finals.join(q, "doc_id")
    w = Window.partitionBy("final_canonical").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    ranked = scored.withColumn("rn", F.row_number().over(w))
    survivor = ranked.where(F.col("rn") == 1).select(
        "final_canonical", F.col("doc_id").alias("survivor_id")
    )
    return (
        scored.join(survivor, "final_canonical")
        .select(
            "doc_id",
            "final_canonical",
            "survivor_id",
            (F.col("doc_id") == F.col("survivor_id")).alias("is_survivor"),
            "quality",
        )
        .orderBy("doc_id")
    )


def _quality_survivors_oracle() -> str:
    cand = _minhash_oracle(
        source="survivors", prefix_ctes=_FINALS_PREFIX_SQL
    ).strip()
    quality = (
        "LEAST(n_words / 100.0, 1.0) * 0.4"
        " + (1 - LEAST(CASE WHEN n_chars = 0 THEN 0.0"
        " ELSE n_punct / n_chars END * 5, 1.0)) * 0.3"
        " + LEAST(CASE WHEN n_words = 0 THEN 0.0"
        " ELSE n_stop / n_words END * 4, 1.0) * 0.3"
    )
    stop_list = ", ".join(f"'{w}'" for w in text.STOPWORDS)
    return rf"""
WITH RECURSIVE
pairs AS ({cand}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.lbl FROM reach JOIN sym s ON s.a = reach.id
),
comps AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id),
{_FINALS_SQL_TAIL.strip()},
qt AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> list_contains([{stop_list}], lower(x)))) AS n_stop
  FROM documents
),
q AS (SELECT doc_id, {hround_sql(quality, 6)} AS quality FROM qt),
scored AS (
  SELECT f.doc_id, f.final_canonical, q.quality
  FROM finals f JOIN q USING (doc_id)
),
surv AS (
  SELECT final_canonical, doc_id AS survivor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY final_canonical
                                 ORDER BY quality DESC, doc_id ASC) AS rn
    FROM scored) t
  WHERE rn = 1
)
SELECT s.doc_id, s.final_canonical, v.survivor_id,
       s.doc_id = v.survivor_id AS is_survivor, s.quality
FROM scored s JOIN surv v USING (final_canonical)
ORDER BY s.doc_id
"""


QUERIES["dedup_quality_survivors"] = (
    dedup_quality_survivors,
    _quality_survivors_oracle(),
)


def split_leakage_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable artifact after split_leakage_report: per held-out
    doc, the repair action — ``quarantine_exact`` / ``quarantine_near``
    for leaked docs (excluded from evaluation; moving them to train
    would silently change the split ratios), ``keep`` otherwise.

    Deliberately MORE conservative than the report: the report
    measures VERIFIED near-duplication (Jaccard ≥ 0.5 direct partners
    — the precise number one publishes), while the repair quarantines
    by TRANSITIVE exact+near cluster membership (the dedup_decisions
    cluster convention) — when in doubt, don't evaluate on it. Emitted
    at doc grain so a consumer applies the decision with one join."""
    docs = load_table(spark, sf_dir, "documents")
    splits = sampling.train_split(docs).select("doc_id", "split")
    fp = text.fingerprint(docs).select("doc_id", "fp")
    labeled = fp.join(splits, "doc_id")
    train_fps = (
        labeled.where(F.col("split") == "train").select("fp").distinct()
    )
    finals = _finals_spark(spark, sf_dir)
    train_canons = (
        finals.join(splits.where(F.col("split") == "train"), "doc_id")
        .select(F.col("final_canonical").alias("tc"))
        .distinct()
    )
    ev = (
        labeled.where(F.col("split") != "train")
        .join(finals, "doc_id")
        .join(
            train_fps.withColumnRenamed("fp", "tfp"),
            F.col("fp") == F.col("tfp"),
            "left",
        )
        .join(
            train_canons,
            F.col("final_canonical") == F.col("tc"),
            "left",
        )
    )
    action = (
        F.when(F.col("tfp").isNotNull(), F.lit("quarantine_exact"))
        .when(F.col("tc").isNotNull(), F.lit("quarantine_near"))
        .otherwise(F.lit("keep"))
    )
    return ev.select("doc_id", "split", action.alias("action")).orderBy(
        "doc_id"
    )


def _split_repair_oracle() -> str:
    split_sel = sampling.hash_selector_sql("doc_id", "split", sampling.SPLIT_MOD)
    cand = _minhash_oracle(
        source="survivors", prefix_ctes=_FINALS_PREFIX_SQL
    ).strip()
    return f"""
WITH RECURSIVE
pairs AS ({cand}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM pairs
        UNION SELECT doc_b, doc_a FROM pairs),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.lbl FROM reach JOIN sym s ON s.a = reach.id
),
comps AS (SELECT id, MIN(lbl) AS component_id FROM reach GROUP BY id),
{_FINALS_SQL_TAIL.strip()},
splits AS (
  SELECT doc_id,
         CASE WHEN {split_sel} < {sampling.SPLIT_TRAIN} THEN 'train'
              WHEN {split_sel} < {sampling.SPLIT_VAL} THEN 'validation'
              ELSE 'test' END AS split
  FROM documents
),
member AS (SELECT f.doc_id, c.canon_id, f.fp FROM fp2 f JOIN canon2 c USING (fp)),
train_fps AS (
  SELECT DISTINCT m.fp FROM member m JOIN splits s USING (doc_id)
  WHERE s.split = 'train'
),
train_canons AS (
  SELECT DISTINCT f.final_canonical FROM finals f JOIN splits s USING (doc_id)
  WHERE s.split = 'train'
)
SELECT m.doc_id, s.split,
       CASE WHEN m.fp IN (SELECT fp FROM train_fps) THEN 'quarantine_exact'
            WHEN f.final_canonical IN (SELECT final_canonical FROM train_canons)
                 THEN 'quarantine_near'
            ELSE 'keep' END AS action
FROM member m
JOIN splits s USING (doc_id)
JOIN finals f ON f.doc_id = m.doc_id
WHERE s.split != 'train'
ORDER BY m.doc_id
"""


QUERIES["split_leakage_repair"] = (split_leakage_repair, _split_repair_oracle())




def dedup_incremental_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-diff-driven incremental dedup (VERDICT r5 #6): on a new
    corpus version, re-dedup ONLY the docs the version diff says are
    added or changed, against the unchanged remainder — the composition
    of corpus_snapshot_diff (which slice moved) and the
    incremental-batch staging (exact fingerprint join first, one-sided
    LSH for the misses; operators/dedup.py::incremental_decisions).
    A full re-dedup per version is quadratic over the corpus's life;
    this touches diff-sized data per version (the unchanged side's
    fingerprint/bucket recompute stands in for the precomputed index a
    deployment keeps). Output: one row per added/changed doc with its
    version status, decision and corpus canonical."""
    docs = load_table(spark, sf_dir, "documents")
    new_text = F.when(
        F.col("doc_id") % 17 == 3, F.upper(F.col("text"))
    ).otherwise(F.col("text"))
    new = docs.where(F.col("doc_id") % 13 != 5).select(
        "doc_id", new_text.alias("text")
    )
    old = docs.where(F.col("doc_id") % 10 != 7).select(
        "doc_id", F.md5(F.encode(F.col("text"), "UTF-8")).alias("old_fp")
    )
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(
            F.col("old_fp") != F.md5(F.encode(F.col("text"), "UTF-8")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    # feeds the corpus leg, the batch leg and the status join — one scan
    marked = (
        new.join(old, "doc_id", "left")
        .select("doc_id", "text", status.alias("status"))
        .localCheckpoint(eager=False)
    )
    batch = marked.where(F.col("status") != "unchanged")
    corpus = marked.where(F.col("status") == "unchanged").select("doc_id", "text")
    dec = dedup.incremental_decisions(corpus, batch.select("doc_id", "text"))
    return (
        dec.join(batch.select("doc_id", "status"), "doc_id")
        .select("doc_id", "status", "decision", "dup_of")
        .orderBy("doc_id")
    )


def _incremental_diff_oracle() -> str:
    sh = dedup.shingles_sql("text")
    xid = dedup.SHINGLE_ID_SQL.format(s="u.s")
    sig_cells = ",\n  ".join(
        f"MIN(({a} * x + {b}) % {dedup.HASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup._hash_params())
    )
    band_selects = []
    for band in range(dedup.LSH_BANDS):
        cols = [f"mh_{band * dedup.LSH_ROWS + r}" for r in range(dedup.LSH_ROWS)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band, md5({key}) AS bucket_key FROM sig"
        )
    bands = "\nUNION ALL\n".join(band_selects)
    return rf"""
WITH newdocs AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 3 THEN upper(text) ELSE text END AS text
  FROM documents WHERE doc_id % 13 != 5
),
old AS (
  SELECT doc_id, md5(text) AS old_fp FROM documents WHERE doc_id % 10 != 7
),
marked AS (
  SELECT n.doc_id, n.text,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN o.old_fp != md5(n.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM newdocs n LEFT JOIN old o USING (doc_id)
),
fp AS (
  SELECT doc_id, status,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM marked
),
c_canon AS (
  SELECT fp, MIN(doc_id) AS exact_dup_of
  FROM fp WHERE status = 'unchanged' GROUP BY fp
),
exact AS (
  SELECT f.doc_id, c.exact_dup_of
  FROM fp f LEFT JOIN c_canon c USING (fp)
  WHERE f.status != 'unchanged'
),
sh AS (SELECT doc_id, status, {sh} AS s FROM marked),
x AS (
  SELECT sh.doc_id, sh.status, {xid} AS x
  FROM sh, LATERAL (SELECT unnest(sh.s) AS s) u
),
sig AS (
  SELECT doc_id, any_value(status) AS status,
  {sig_cells}
  FROM x GROUP BY doc_id
),
bands AS (
{bands}
),
ok AS (
  SELECT band, bucket_key FROM bands b
  JOIN sig g USING (doc_id)
  WHERE g.status = 'unchanged'
  GROUP BY band, bucket_key
  HAVING COUNT(*) <= {dedup.LSH_MAX_BUCKET}
),
near AS (
  SELECT b.doc_id, MIN(c.doc_id) AS near_dup_of
  FROM bands b
  JOIN sig gb ON gb.doc_id = b.doc_id AND gb.status != 'unchanged'
  JOIN bands c ON b.band = c.band AND b.bucket_key = c.bucket_key
  JOIN sig gc ON gc.doc_id = c.doc_id AND gc.status = 'unchanged'
  JOIN ok ON ok.band = c.band AND ok.bucket_key = c.bucket_key
  WHERE b.doc_id IN (SELECT doc_id FROM exact WHERE exact_dup_of IS NULL)
  GROUP BY b.doc_id
)
SELECT e.doc_id, m.status,
       CASE WHEN e.exact_dup_of IS NOT NULL THEN 'dup_exact'
            WHEN n.near_dup_of IS NOT NULL THEN 'dup_near'
            ELSE 'new' END AS decision,
       CAST(COALESCE(e.exact_dup_of, n.near_dup_of) AS BIGINT) AS dup_of
FROM exact e
JOIN marked m USING (doc_id)
LEFT JOIN near n USING (doc_id)
ORDER BY e.doc_id
"""


DEDUP_INCREMENTAL_DIFF_SQL = _incremental_diff_oracle()

QUERIES["dedup_incremental_diff"] = (
    dedup_incremental_diff,
    DEDUP_INCREMENTAL_DIFF_SQL,
)


def corpus_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram per source on power-of-two buckets — the
    length-distribution snapshot curation teams check before choosing
    context lengths and packing budgets. One map-side bucket expr +
    one keyed agg."""
    docs = load_table(spark, sf_dir, "documents")
    # integer-exact power-of-two bucket: 2^(binary digits - 1); float
    # log2 drifts on exact powers across libm implementations.
    # (F.expr: shiftleft's distance must be a column here)
    bucket = F.expr(
        r"CAST(shiftleft(1L, length(conv(greatest(size(split(trim(text),"
        r" '\\s+')), 1), 10, 2)) - 1) AS BIGINT)"
    )
    return (
        docs.select("source", bucket.alias("len_bucket"))
        .groupBy("source", "len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "len_bucket")
    )


CORPUS_LENGTH_HISTOGRAM_SQL = r"""
WITH t AS (
  SELECT source,
         1::BIGINT << (length(bin(greatest(
           len(regexp_split_to_array(trim(text), '\s+')), 1)::BIGINT)) - 1)
           AS len_bucket
  FROM documents
)
SELECT source, len_bucket, CAST(count(*) AS BIGINT) AS n_docs
FROM t GROUP BY source, len_bucket
ORDER BY source, len_bucket
"""

QUERIES["corpus_length_histogram"] = (
    corpus_length_histogram,
    CORPUS_LENGTH_HISTOGRAM_SQL,
)


# ---------------------------------------------------------------------------
# round-4: the full corpus-prep recipe as one decision table


PREP_KEEP_LANGS = ("en",)
PREP_MIN_QUALITY = 0.45
PREP_MAX_DUP_TOKEN_FRAC = 0.70


def corpus_prep_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE training-data preprocessing recipe as one artifact:
    every document labeled with the first stage that dropped it —
    dropped_lang / dropped_quality / dropped_repetition / dropped_exact
    / dropped_near / kept — plus the canonical id for dedup drops.

    Stage order is the production order, cheapest first, each stage over
    the PREVIOUS stage's survivors only: (1) the three per-row gates run
    in a single shuffle-free projection (text.prep_signals — language
    keep-set, quality floor, repetition ceiling); (2) exact dedup (one
    hash shuffle) over gate survivors; (3) MinHash-LSH components over
    exact survivors only. At 100 TB the ordering is the whole game: the
    quadratic-ish LSH leg sees the corpus only after the cheap gates and
    the exact hash have shrunk it, exactly as the bucket-cap guidance
    demands. canonical_id is NULL for gate drops (there is no surviving
    representative), the fingerprint-group min for dropped_exact, the
    component min for dropped_near, and the doc itself when kept."""
    return _prep_decisions_for(load_table(spark, sf_dir, "documents"))


def _prep_decisions_for(raw_docs: DataFrame) -> DataFrame:
    """The prep recipe over an arbitrary documents frame — factored so
    the decontamination-composed build (corpus_decon_decisions /
    corpus_build_manifest_decon) can run the SAME chain over the corpus
    partition only, with the benchmark held out of the dedup universe
    (production semantics: you never dedupe against your eval set, you
    decontaminate against it)."""
    docs = ensure_parallelism(raw_docs)
    sig = text.prep_signals(docs)
    pre_decision = (
        F.when(
            ~F.col("lang_pred").isin(*PREP_KEEP_LANGS), F.lit("dropped_lang")
        )
        .when(F.col("quality") < PREP_MIN_QUALITY, F.lit("dropped_quality"))
        .when(
            F.col("dup_token_frac") > PREP_MAX_DUP_TOKEN_FRAC,
            F.lit("dropped_repetition"),
        )
    )
    # The gate projection feeds three consumers (exact-dedup leg, the
    # LSH survivor leg, and the final decision join); materialize it
    # once instead of re-running the regex-heavy signals per consumer.
    # localCheckpoint spills MEMORY_AND_DISK; the 100 TB deployment
    # writes this stage boundary to a table — same topology.
    pre = sig.select(
        "doc_id", "text", pre_decision.alias("pre_decision")
    ).localCheckpoint(eager=False)
    clean = pre.where(F.col("pre_decision").isNull()).select("doc_id", "text")
    fp = text.fingerprint(clean).select("doc_id", "fp")
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("exact_keep"))
    labeled = fp.join(canon, "fp").select(
        "doc_id", "exact_keep"
    ).localCheckpoint(eager=False)
    survivors = clean.join(
        labeled.where(F.col("doc_id") == F.col("exact_keep")).select("doc_id"),
        "doc_id",
    )
    pairs = dedup.minhash_lsh_candidates(survivors)
    comps = dedup.connected_components(pairs, src="doc_a", dst="doc_b").select(
        F.col("id").alias("doc_id"), "component_id"
    )
    # as in dedup_decisions: an exact-canonical can itself be a
    # near-dup drop — chase one hop so canonical_id always names a
    # KEPT doc
    keep_comp = comps.select(
        F.col("doc_id").alias("exact_keep"),
        F.col("component_id").alias("keep_component"),
    )
    out = (
        pre.join(labeled, "doc_id", "left")
        .join(comps, "doc_id", "left")
        .join(keep_comp, "exact_keep", "left")
    )
    decision = (
        F.when(F.col("pre_decision").isNotNull(), F.col("pre_decision"))
        .when(F.col("doc_id") != F.col("exact_keep"), F.lit("dropped_exact"))
        .when(
            F.col("component_id").isNotNull()
            & (F.col("component_id") != F.col("doc_id")),
            F.lit("dropped_near"),
        )
        .otherwise(F.lit("kept"))
    )
    canonical = (
        F.when(F.col("pre_decision").isNotNull(), F.lit(None).cast("long"))
        .when(
            F.col("doc_id") != F.col("exact_keep"),
            F.coalesce(F.col("keep_component"), F.col("exact_keep")),
        )
        .when(F.col("component_id").isNotNull(), F.col("component_id"))
        .otherwise(F.col("doc_id"))
    )
    return out.select(
        "doc_id",
        decision.alias("decision"),
        canonical.cast("long").alias("canonical_id"),
    )


def _corpus_prep_parts(where: str = "") -> tuple[str, str]:
    """The prep-decisions oracle split into (CTE body, final SELECT) so
    downstream compositions (corpus_build_manifest) can extend the chain
    — DuckDB allows WITH RECURSIVE only at statement top, so composition
    happens by CTE concatenation, not nesting."""
    from pos_pipeline_core_etl_spark.operators.text import LANG_MARKERS, STOPWORDS

    cand = _minhash_oracle().strip().replace("FROM documents", "FROM survivors")
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    langs = sorted(LANG_MARKERS)
    lang_cells = ",\n         ".join(
        rf"""len(list_filter(regexp_split_to_array(trim(text), '\s+'),
             x -> list_contains([{", ".join(f"'{w}'" for w in LANG_MARKERS[lang])}], lower(x)))) AS score_{lang}"""
        for lang in langs
    )
    best = "GREATEST(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    pred_whens = "\n".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs
    )
    keep_list = ", ".join(f"'{lang}'" for lang in PREP_KEEP_LANGS)
    quality = hround_sql(
        "LEAST(n_words / 100.0, 1.0) * 0.4"
        " + (1 - LEAST(punct_ratio * 5, 1.0)) * 0.3"
        " + LEAST(stop_ratio * 4, 1.0) * 0.3",
        6,
    )
    dupfrac = hround_sql(
        "CASE WHEN n_tokens <= 0 THEN 0.0"
        " ELSE (n_tokens - n_distinct) / n_tokens END",
        6,
    )
    _where = where
    ctes = rf"""raw AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
         len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
         len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> list_contains([{stop_list}], lower(x)))) AS n_stop,
         len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n_tokens,
         len(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')))
           AS n_distinct,
         {lang_cells}
  FROM documents{_where}
),
sig AS (
  SELECT doc_id, text,
         {quality.replace("punct_ratio", "(CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct / n_chars END)").replace("stop_ratio", "(CASE WHEN n_words = 0 THEN 0.0 ELSE n_stop / n_words END)")} AS quality,
         CASE WHEN {best} = 0 THEN 'und' ELSE CASE {pred_whens} END END
           AS lang_pred,
         {dupfrac} AS dup_token_frac
  FROM raw
),
pre AS (
  SELECT doc_id, text,
         CASE WHEN lang_pred NOT IN ({keep_list}) THEN 'dropped_lang'
              WHEN quality < {PREP_MIN_QUALITY} THEN 'dropped_quality'
              WHEN dup_token_frac > {PREP_MAX_DUP_TOKEN_FRAC}
                THEN 'dropped_repetition'
         END AS pre_decision
  FROM sig
),
clean AS (SELECT doc_id, text FROM pre WHERE pre_decision IS NULL),
fpx AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM clean
),
canon AS (SELECT fp, MIN(doc_id) AS exact_keep FROM fpx GROUP BY fp),
labeled AS (SELECT f.doc_id, c.exact_keep FROM fpx f JOIN canon c USING (fp)),
survivors AS (
  SELECT d.doc_id, d.text
  FROM clean d JOIN labeled l ON l.doc_id = d.doc_id AND l.doc_id = l.exact_keep
),
cand AS ({cand}),
sym AS (SELECT doc_a AS a, doc_b AS b FROM cand
        UNION SELECT doc_b, doc_a FROM cand),
reach(id, lbl) AS (
  SELECT DISTINCT a, a FROM sym
  UNION
  SELECT s.b, reach.lbl FROM reach JOIN sym s ON s.a = reach.id
),
comps AS (SELECT id AS doc_id, MIN(lbl) AS component_id FROM reach GROUP BY id)"""
    final = """SELECT p.doc_id,
       CASE WHEN p.pre_decision IS NOT NULL THEN p.pre_decision
            WHEN p.doc_id != l.exact_keep THEN 'dropped_exact'
            WHEN k.component_id IS NOT NULL AND k.component_id != p.doc_id
              THEN 'dropped_near'
            ELSE 'kept' END AS decision,
       CAST(CASE WHEN p.pre_decision IS NOT NULL THEN NULL
                 WHEN p.doc_id != l.exact_keep
                   THEN COALESCE(k2.component_id, l.exact_keep)
                 WHEN k.component_id IS NOT NULL THEN k.component_id
                 ELSE p.doc_id END AS BIGINT) AS canonical_id
FROM pre p
LEFT JOIN labeled l ON l.doc_id = p.doc_id
LEFT JOIN comps k ON k.doc_id = p.doc_id
LEFT JOIN comps k2 ON k2.doc_id = l.exact_keep"""
    return ctes, final


def _corpus_prep_oracle() -> str:
    ctes, final = _corpus_prep_parts()
    return f"\nWITH RECURSIVE\n{ctes}\n{final}\n"


CORPUS_PREP_DECISIONS_SQL = _corpus_prep_oracle()

QUERIES["corpus_prep_decisions"] = (
    corpus_prep_decisions,
    CORPUS_PREP_DECISIONS_SQL,
)


# ---------------------------------------------------------------------------
# round-4: deterministic corpus sampling (split / quota / shuffle) and
# embedding int8 quantization


def text_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable train/validation/test assignment (98/1/1 per-mille) via a
    salted hash selector — adding documents never flips an existing
    doc's split. ZERO shuffles (see operators/sampling.py)."""
    return sampling.train_split(load_table(spark, sf_dir, "documents"))


TEXT_TRAIN_SPLIT_SQL = f"""
SELECT doc_id, source,
       CASE WHEN {sampling.hash_selector_sql("doc_id", "split", sampling.SPLIT_MOD)}
                 < {sampling.SPLIT_TRAIN} THEN 'train'
            WHEN {sampling.hash_selector_sql("doc_id", "split", sampling.SPLIT_MOD)}
                 < {sampling.SPLIT_VAL} THEN 'validation'
            ELSE 'test' END AS split
FROM documents
"""


def docs_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (shards × cap_per_shard docs per source),
    hash-ranked so survivors are an unbiased sample of the domain. The
    window partitions by (source, shard) — a hot domain never sorts on
    one task (see operators/sampling.py)."""
    return sampling.domain_quota(load_table(spark, sf_dir, "documents"))


DOCS_DOMAIN_QUOTA_SQL = f"""
WITH t AS (
  SELECT doc_id, source,
         {sampling.hash_selector_sql("doc_id", "qshard", sampling.QUOTA_SHARDS)} AS shard_id,
         {sampling.hash_selector_sql("doc_id", "quota", sampling.SPLIT_MOD)} AS quota_sel
  FROM documents
),
r AS (
  SELECT doc_id, source, shard_id,
         ROW_NUMBER() OVER (PARTITION BY source, shard_id
                            ORDER BY quota_sel, doc_id) AS rnk
  FROM t
)
SELECT doc_id, source, shard_id, CAST(rnk AS BIGINT) AS rnk
FROM r WHERE rnk <= {sampling.CAP_PER_SHARD}
"""


def text_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training export: hash shard +
    hash-ordered position within shard; concatenating shards yields a
    reproducible pseudo-random permutation with NO global sort (see
    operators/sampling.py)."""
    return sampling.shuffle_shards(load_table(spark, sf_dir, "documents"))


TEXT_SHUFFLE_SHARDS_SQL = f"""
WITH t AS (
  SELECT doc_id,
         {sampling.hash_selector_sql("doc_id", "shuf", sampling.SHUFFLE_SHARDS)} AS shard_id,
         {sampling.hash_selector_sql("doc_id", "pos", sampling.SPLIT_MOD * sampling.SPLIT_MOD)} AS pos_key
  FROM documents
)
SELECT doc_id, shard_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY shard_id
                               ORDER BY pos_key, doc_id) AS BIGINT) AS pos
FROM t
"""


def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization with integer code
    checksums + reconstruction MSE (see operators/similarity.py::
    quantize_int8). Codes are engine-identical via hround0."""
    df = similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))
    return df.select(
        "vec_id",
        hround(F.col("maxabs"), 6).alias("maxabs"),
        "q_sum",
        "q_l1",
        hround(F.col("mse"), 9).alias("mse"),
    )


def _emb_quantize_oracle() -> str:
    q_vec = (
        "list_transform(v, x -> CAST(SIGN(x / scale) *"
        " FLOOR(ABS(x / scale) + 0.5) AS BIGINT))"
    )
    return f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_reduce(list_transform(v, x -> abs(x)),
                     (acc, x) -> greatest(acc, x)) AS maxabs
  FROM base
),
sc AS (SELECT vec_id, v, maxabs, maxabs / 127.0 AS scale FROM s),
coded AS (
  SELECT vec_id, v, maxabs, scale,
         CASE WHEN maxabs = 0
              THEN list_transform(v, x -> CAST(0 AS BIGINT))
              ELSE {q_vec} END AS q
  FROM sc
)
SELECT vec_id,
       {hround_sql("maxabs", 6)} AS maxabs,
       list_reduce(q, (acc, x) -> acc + x) AS q_sum,
       list_reduce(list_transform(q, x -> abs(x)),
                   (acc, x) -> acc + x) AS q_l1,
       {hround_sql(
           "list_reduce(list_transform(generate_series(1, len(v)),"
           " i -> (v[i] - q[i] * scale) * (v[i] - q[i] * scale)),"
           " (acc, x) -> acc + x) / len(v)", 9)} AS mse
FROM coded
"""


EMB_QUANTIZE_INT8_SQL = _emb_quantize_oracle()

QUERIES["text_train_split"] = (text_train_split, TEXT_TRAIN_SPLIT_SQL)
QUERIES["docs_domain_quota"] = (docs_domain_quota, DOCS_DOMAIN_QUOTA_SQL)
QUERIES["text_shuffle_shards"] = (text_shuffle_shards, TEXT_SHUFFLE_SHARDS_SQL)
QUERIES["emb_quantize_int8"] = (emb_quantize_int8, EMB_QUANTIZE_INT8_SQL)


def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus incremental dedup decisions (operators/dedup.py::
    incremental_batch_decisions): exact-index join first, one-sided LSH
    join for the misses — the daily-ingest shape that never re-dedups
    the corpus."""
    return dedup.incremental_batch_decisions(load_table(spark, sf_dir, "documents"))


def _incremental_batch_oracle(batch_mod: int = 10, batch_rem: int = 7) -> str:
    sh = dedup.shingles_sql("text")
    xid = dedup.SHINGLE_ID_SQL.format(s="u.s")
    sig_cells = ",\n  ".join(
        f"MIN(({a} * x + {b}) % {dedup.HASH_MOD}) AS mh_{i}"
        for i, (a, b) in enumerate(dedup._hash_params())
    )
    band_selects = []
    for band in range(dedup.LSH_BANDS):
        cols = [f"mh_{band * dedup.LSH_ROWS + r}" for r in range(dedup.LSH_ROWS)]
        key = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band, md5({key}) AS bucket_key FROM sig"
        )
    bands = "\nUNION ALL\n".join(band_selects)
    is_batch = f"doc_id % {batch_mod} = {batch_rem}"
    return rf"""
WITH fp AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
),
c_canon AS (
  SELECT fp, MIN(doc_id) AS exact_dup_of
  FROM fp WHERE NOT ({is_batch}) GROUP BY fp
),
exact AS (
  SELECT f.doc_id, c.exact_dup_of
  FROM fp f LEFT JOIN c_canon c USING (fp)
  WHERE {is_batch.replace("doc_id", "f.doc_id")}
),
sh AS (SELECT doc_id, {sh} AS s FROM documents),
x AS (
  SELECT sh.doc_id, {xid} AS x
  FROM sh, LATERAL (SELECT unnest(sh.s) AS s) u
),
sig AS (
  SELECT doc_id,
  {sig_cells}
  FROM x GROUP BY doc_id
),
bands AS (
{bands}
),
ok AS (
  SELECT band, bucket_key FROM bands
  WHERE NOT (doc_id % {batch_mod} = {batch_rem})
  GROUP BY band, bucket_key
  HAVING COUNT(*) <= {dedup.LSH_MAX_BUCKET}
),
near AS (
  SELECT b.doc_id, MIN(c.doc_id) AS near_dup_of
  FROM bands b
  JOIN bands c ON b.band = c.band AND b.bucket_key = c.bucket_key
  JOIN ok ON ok.band = c.band AND ok.bucket_key = c.bucket_key
  WHERE b.doc_id % {batch_mod} = {batch_rem}
    AND NOT (c.doc_id % {batch_mod} = {batch_rem})
    AND b.doc_id IN (SELECT doc_id FROM exact WHERE exact_dup_of IS NULL)
  GROUP BY b.doc_id
)
SELECT e.doc_id,
       CASE WHEN e.exact_dup_of IS NOT NULL THEN 'dup_exact'
            WHEN n.near_dup_of IS NOT NULL THEN 'dup_near'
            ELSE 'new' END AS decision,
       CAST(COALESCE(e.exact_dup_of, n.near_dup_of) AS BIGINT) AS dup_of
FROM exact e LEFT JOIN near n USING (doc_id)
"""


DEDUP_INCREMENTAL_BATCH_SQL = _incremental_batch_oracle()

QUERIES["dedup_incremental_batch"] = (
    dedup_incremental_batch,
    DEDUP_INCREMENTAL_BATCH_SQL,
)


def _mixture_share_case() -> str:
    cases = " ".join(
        f"WHEN lang = '{lang}' THEN {pct}"
        for lang, pct in sampling.MIXTURE_TARGETS.items()
    )
    return f"CASE {cases} END"


def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mixture plan (operators/sampling.py::mixture_plan): the
    largest downsampled corpus hitting the target mix without
    upsampling; integer budget math, ONE corpus aggregation."""
    return sampling.mixture_plan(load_table(spark, sf_dir, "documents"))


CORPUS_MIXTURE_PLAN_SQL = f"""
WITH counts AS (
  SELECT lang, {_mixture_share_case()} AS share, COUNT(*) AS n_docs
  FROM documents
  WHERE {_mixture_share_case()} IS NOT NULL
  GROUP BY lang
),
b AS (SELECT MIN(CAST(FLOOR(100 * n_docs / share) AS BIGINT)) AS budget FROM counts)
SELECT lang, n_docs, share AS target_share,
       CAST(FLOOR(budget * share / 100) AS BIGINT) AS n_target,
       LEAST(1000, CAST(FLOOR(1000 * budget * share / (100 * n_docs)) AS BIGINT))
         AS keep_permille
FROM counts, b
"""


def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the mixture plan: broadcast the languages-sized plan, keep
    docs whose salted hash falls under their language's threshold —
    map-side, zero corpus shuffle."""
    return sampling.mixture_sample(load_table(spark, sf_dir, "documents"))


CORPUS_MIXTURE_SAMPLE_SQL = f"""
WITH counts AS (
  SELECT lang, {_mixture_share_case()} AS share, COUNT(*) AS n_docs
  FROM documents
  WHERE {_mixture_share_case()} IS NOT NULL
  GROUP BY lang
),
b AS (SELECT MIN(CAST(FLOOR(100 * n_docs / share) AS BIGINT)) AS budget FROM counts),
plan AS (
  SELECT lang,
         LEAST(1000, CAST(FLOOR(1000 * budget * share / (100 * n_docs)) AS BIGINT))
           AS keep_permille
  FROM counts, b
)
SELECT d.doc_id, d.lang, d.source
FROM documents d JOIN plan p ON d.lang = p.lang
WHERE {sampling.hash_selector_sql("d.doc_id", "mix", sampling.SPLIT_MOD)}
      < p.keep_permille
"""

QUERIES["corpus_mixture_plan"] = (corpus_mixture_plan, CORPUS_MIXTURE_PLAN_SQL)
QUERIES["corpus_mixture_sample"] = (corpus_mixture_sample, CORPUS_MIXTURE_SAMPLE_SQL)


def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus report — the observability table a training-
    data pipeline publishes per ingest: doc counts, token totals, and
    token-length percentiles.

    Percentiles follow the repo's sketch discipline (same contract as
    order_times_approx): the 100 TB path is the one-pass mergeable
    `percentile_approx` sketch; the query emits the EXACT percentiles
    plus booleans asserting the sketch landed within 2% relative error,
    and the DuckDB oracle expects the booleans TRUE — a sketch
    regression flips the flags and fails the hash. ONE shuffle on
    source with map-side partials.
    """
    from pos_pipeline_core_etl_spark.plans.analytics import APPROX_PCT_REL_TOL

    docs = load_table(spark, sf_dir, "documents")
    toks = F.size(text.tokens_col(F.col("text"))).cast("long")
    agg = docs.select("source", toks.alias("n_tokens")).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.percentile("n_tokens", 0.5).alias("p50_exact"),
        F.percentile("n_tokens", 0.95).alias("p95_exact"),
        F.percentile_approx("n_tokens", 0.5, 10000).alias("p50_approx"),
        F.percentile_approx("n_tokens", 0.95, 10000).alias("p95_approx"),
    )
    # discrete-data allowance: the GK sketch returns an ORDER STATISTIC,
    # the exact percentile interpolates between two of them — on a small
    # group the two differ by up to one adjacent-value gap (measured max
    # 3.4 tokens on the fixtures), so the contract is
    # max(2% relative, 5 tokens absolute); at corpus scale the relative
    # term dominates and the bound tightens to the sketch's rank-error
    # guarantee.
    within = lambda a, e: (  # noqa: E731
        F.abs(F.col(a) - F.col(e))
        <= F.greatest(F.lit(APPROX_PCT_REL_TOL) * F.abs(F.col(e)), F.lit(5.0))
    )
    return agg.select(
        "source",
        "n_docs",
        "total_tokens",
        hround(F.col("p50_exact"), 4).alias("p50_tokens"),
        hround(F.col("p95_exact"), 4).alias("p95_tokens"),
        within("p50_approx", "p50_exact").alias("p50_within_tol"),
        within("p95_approx", "p95_exact").alias("p95_within_tol"),
    )


CORPUS_STATS_SQL = rf"""
WITH t AS (
  SELECT source,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
)
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       {hround_sql("quantile_cont(n_tokens, 0.5)", 4)} AS p50_tokens,
       {hround_sql("quantile_cont(n_tokens, 0.95)", 4)} AS p95_tokens,
       TRUE AS p50_within_tol,
       TRUE AS p95_within_tol
FROM t
GROUP BY source
"""

QUERIES["corpus_stats"] = (corpus_stats, CORPUS_STATS_SQL)


def emb_dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (embedding-space) dedup decision table — the SemDeDup-
    style artifact: EVERY vector labeled kept / dropped_near with its
    component canonical (min id), not just the vectors that happen to
    appear in the pair graph. Completes the decision-table family
    (dedup_decisions = lexical, corpus_prep_decisions = full recipe,
    this = semantic).

    One left join of the full id set against the components frame —
    vectors outside any near-dup chain are their own canonical. Scale:
    the components input is the blocked (hyperplane-bucketed, capped)
    pair graph; the final join is one hash shuffle on vec_id.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    comps = similarity.embedding_neardup_components(emb)
    out = emb.select("vec_id").join(comps, "vec_id", "left")
    return out.select(
        "vec_id",
        F.when(
            F.col("component_id").isNotNull()
            & (F.col("component_id") != F.col("vec_id")),
            F.lit("dropped_near"),
        )
        .otherwise(F.lit("kept"))
        .alias("decision"),
        F.coalesce(F.col("component_id"), F.col("vec_id"))
        .cast("long")
        .alias("canonical_id"),
    )


def _emb_dedup_decisions_oracle() -> str:
    comps = _embedding_components_oracle().strip()
    return f"""
WITH comps AS (
{comps}
)
SELECT e.vec_id,
       CASE WHEN c.component_id IS NOT NULL AND c.component_id != e.vec_id
            THEN 'dropped_near' ELSE 'kept' END AS decision,
       CAST(COALESCE(c.component_id, e.vec_id) AS BIGINT) AS canonical_id
FROM embeddings e LEFT JOIN comps c ON e.vec_id = c.vec_id
"""


EMB_DEDUP_DECISIONS_SQL = _emb_dedup_decisions_oracle()

QUERIES["emb_dedup_decisions"] = (emb_dedup_decisions, EMB_DEDUP_DECISIONS_SQL)


# ---------------------------------------------------------------------------
# substring (token-window) dedup — round 4 second pass


def text_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicated-span statistics via strided token windows (the
    suffix-array substring-dedup signal of Lee et al. 2022, re-expressed
    as keyed hash-aggs — see operators/dedup.py::substring_duplicate_spans
    for the 100 TB shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.substring_duplicate_spans(docs).orderBy("doc_id")


def _substring_dedup_oracle() -> str:
    w, s = dedup.SUBSTR_WINDOW, dedup.SUBSTR_STRIDE
    return rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
wins AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(array_to_string(
             list_slice(t, u.pos + 1, u.pos + {w}), ' ')), 1, 15)) AS BIGINT) AS wid
  FROM toks,
       unnest(CASE WHEN len(t) >= {w}
                   THEN list_filter(range(0, len(t) - {w} + 1),
                        i -> i = 0 OR CAST(('0x' || substr(md5(t[i + 1]), 1, 8))
                                           AS BIGINT) % {s} = 0)
                   ELSE [] END) AS u(pos)
),
freq AS (
  SELECT wid, count(DISTINCT doc_id) AS n_docs FROM wins GROUP BY wid
),
per_doc AS (
  SELECT wins.doc_id,
         count(*) AS n_windows,
         sum(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END) AS n_dup_windows,
         max(freq.n_docs) AS max_window_copies
  FROM wins JOIN freq USING (wid)
  GROUP BY wins.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_windows, 0) AS BIGINT) AS n_windows,
       CAST(coalesce(p.n_dup_windows, 0) AS BIGINT) AS n_dup_windows,
       CAST(coalesce(p.max_window_copies, 0) AS BIGINT) AS max_window_copies
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


TEXT_SUBSTRING_DEDUP_SQL = _substring_dedup_oracle()

QUERIES["text_substring_dedup"] = (text_substring_dedup, TEXT_SUBSTRING_DEDUP_SQL)


# ---------------------------------------------------------------------------
# weighted corpus sampling — Efraimidis–Spirakis priority sampling


WEIGHTED_SAMPLE_K = 100


def docs_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006 'Weighted random sampling with a reservoir'): each doc
    draws u from its md5 hash and gets priority ln(u)/w; the top-k by
    priority are an exact weighted sample. Weight here = n_chars, the
    standard size-proportional pick for token-budgeted corpus curation.

    Scale shape: priority is a map-side expression; the top-k is
    TakeOrderedAndProject (per-partition heap + driver merge of k rows),
    never a global sort — the same plan at 100 TB. The hash-derived u
    (32 bits of md5) makes the sample engine-reproducible (same
    convention as bounded_sample / stratified_sample). Ranking happens
    on the UNROUNDED priority — likely winners cluster near 0, so any
    coarse pre-rank rounding collapses the top-k into doc_id-ordered
    ties at corpus scale (ADVICE r4); only the emitted column is
    hround(12)-ed for cross-engine display stability."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("double")
    )
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    raw = F.log(u) / F.col("n_chars").cast("double")
    return (
        docs.where(F.col("n_chars") > 0)
        .select(
            "doc_id",
            F.col("n_chars").cast("long").alias("n_chars"),
            raw.alias("raw"),
        )
        .orderBy(F.col("raw").desc(), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
        .select("doc_id", "n_chars", hround(F.col("raw"), 12).alias("priority"))
    )


_PRIORITY_EXPR = (
    "ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE)"
)

DOCS_WEIGHTED_SAMPLE_SQL = f"""
WITH ranked AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, {_PRIORITY_EXPR} AS raw
  FROM documents
  WHERE n_chars > 0
  ORDER BY raw DESC, doc_id
  LIMIT {WEIGHTED_SAMPLE_K}
)
SELECT doc_id, n_chars, {hround_sql("raw", 12)} AS priority
FROM ranked
ORDER BY raw DESC, doc_id
"""

QUERIES["docs_weighted_sample"] = (docs_weighted_sample, DOCS_WEIGHTED_SAMPLE_SQL)


# ---------------------------------------------------------------------------
# random projection (Johnson–Lindenstrauss) dimensionality reduction


RP_OUT_DIM = 8


def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction 64 → 8: the classic
    JL sketch that feeds coarse clustering / visualization / cheap ANN
    pre-filters. The projection matrix is the SAME deterministic
    hyperplane family the LSH bucketing uses (integer-mixed uniform
    [-1, 1) components, similarity.plane_component) so engines share it
    with zero data movement — at 100 TB this is a pure map-side scan,
    no shuffle at all (plan-tested). Components are hround(6)-ed;
    E[proj_j^2] = ||v||^2 / 3, so distance estimates downstream rescale
    by 3/out_dim."""
    from pos_pipeline_core_etl_spark.operators.similarity import (
        _plane_component_sql,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dim = 64
    cols = ["vec_id"]
    for p in range(RP_OUT_DIM):
        proj = (
            f"aggregate(zip_with(CAST(embedding AS ARRAY<DOUBLE>),"
            f" sequence(0, {dim - 1}),"
            f" (x, i) -> x * {_plane_component_sql(p, dim)}),"
            " 0.0D, (acc, x) -> acc + x)"
        )
        cols.append(f"{hround_sql(proj, 6)} AS p{p}")
    return emb.selectExpr(*cols)


def _random_projection_oracle() -> str:
    comps = ", ".join(
        f"{hround_sql(_plane_proj_sql('CAST(embedding AS DOUBLE[])', p), 6)} AS p{p}"
        for p in range(RP_OUT_DIM)
    )
    return f"SELECT vec_id, {comps} FROM embeddings"


EMB_RANDOM_PROJECTION_SQL = _random_projection_oracle()

QUERIES["emb_random_projection"] = (emb_random_projection, EMB_RANDOM_PROJECTION_SQL)


# ---------------------------------------------------------------------------
# distributed Lloyd k-means — round 4 second pass


def emb_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means over the FULL corpus (no driver-side
    sample — contrast sim_ivf_topk_trained's bounded-sample quantizer).
    See operators/similarity.py::kmeans_lloyd for the 100 TB shape:
    map-side assignment against one broadcast centroid row, one keyed
    hash-agg per iteration, integer-exact centroid sums."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_lloyd(emb).orderBy("vec_id")


def _sq_dist_sql(a: str, b: str, width: int) -> str:
    """DuckDB squared L2 distance between the element expressions ``a``
    and ``b`` of ``i`` over ``width`` components, left-folded in
    component order like Spark's ``aggregate(zip_with(...))``."""
    return (
        f"list_reduce(list_transform(generate_series(1, {width}),"
        f" i -> ({a} - {b}) * ({a} - {b})), (x, y) -> x + y)"
    )


def _vq_d2_sql(vq: str, width: int) -> str:
    """Squared distance from the quantized vector ``vq`` (scaled back by
    KMEANS_QUANT) to the centroid list ``s.centroid`` — the Spark
    argmin's arithmetic term for term."""
    q = float(similarity.KMEANS_QUANT)
    return _sq_dist_sql(f"{vq}[i] / {q}", "s.centroid[i]", width)


def _vq_base_sql(name: str, source: str = "embeddings") -> str:
    """CTE ``name`` (vec_id, vq): the integer-quantized vectors of
    ``source``, as operators/similarity.py::_quantized_base."""
    q = float(similarity.KMEANS_QUANT)
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id,
         list_transform(CAST(embedding AS DOUBLE[]),
                        x -> CAST(floor(x * {q} + 0.5) AS BIGINT)) AS vq
  FROM {source}
)"""


def _lloyd_assign_sql(
    base: str,
    cents: str,
    out: str,
    keys: tuple[str, ...] = (),
    width: int = 64,
    with_d2: bool = False,
) -> str:
    """CTE ``out``: every (vec_id, *keys) row of ``base`` with its
    nearest centroid of ``cents`` (same keys), ties to the lowest
    cluster id; ``with_d2`` keeps the squared distance."""
    d2 = _vq_d2_sql("b.vq", width)
    kc = "".join(f"{k}, " for k in keys)
    kb = "".join(f"b.{k}, " for k in keys)
    part = "".join(f", b.{k}" for k in keys)
    on = " AND ".join(f"b.{k} = s.{k}" for k in keys)
    src = f"{base} b JOIN {cents} s ON {on}" if keys else f"{base} b CROSS JOIN {cents} s"
    dcol, dsel = (", d2", f", {d2} AS d2") if with_d2 else ("", "")
    return f"""
{out} AS (
  SELECT vec_id, {kc}vq, cluster{dcol} FROM (
    SELECT b.vec_id, {kb}b.vq, s.cluster{dsel},
           row_number() OVER (PARTITION BY b.vec_id{part}
                              ORDER BY {d2}, s.cluster) AS rn
    FROM {src})
  WHERE rn = 1
)"""


def _lloyd_chain(
    prefix: str,
    keys: tuple[str, ...] = (),
    width: int = 64,
    with_d2: bool = False,
    k: int = similarity.KMEANS_K,
    iters: int = similarity.KMEANS_ITERS,
) -> tuple[str, str, str]:
    """The one Lloyd CTE chain behind every k-means and PQ oracle — the
    DuckDB twin of operators/similarity.py::_lloyd.  A CTE
    ``{prefix}_base`` (vec_id, *keys, vq), ``width`` components per
    row, must precede it; ``keys=()`` is k-means, ``("sub",)`` is PQ.
    Emits the seeds (the k lowest ids), then per iteration an assign
    and, before the last one, an update.  Returns ``(ctes,
    last_assign, last_centroids)``: the final assignment and the
    centroids that produced it.  ``prefix=""`` names the CTEs plainly.
    Declare the base ``AS MATERIALIZED``: the seeds and every assign
    read it, and DuckDB otherwise re-derives it per reference (the
    learned-quantizer IVF-PQ oracle, whose base is itself a k-means
    chain, ran about 2× slower).

    Generated from the SAME k/iteration constants the Spark operator
    uses, so changing KMEANS_ITERS or PQ_ITERS cannot silently desync
    engine and oracle (ADVICE r4)."""
    p = f"{prefix}_" if prefix else ""
    q = float(similarity.KMEANS_QUANT)
    kc = "".join(f"{key}, " for key in keys)
    pk = "".join(f"p.{key}, " for key in keys)
    ctes = [f"""
{p}seed_ids AS (SELECT DISTINCT vec_id FROM {p}base ORDER BY vec_id LIMIT {k}),
{p}seeds AS (
  SELECT {kc}vec_id AS cluster, list_transform(vq, x -> x / {q}) AS centroid
  FROM {p}base JOIN {p}seed_ids USING (vec_id)
)"""]
    cents = f"{p}seeds"
    for i in range(iters):
        last, out = cents, f"{p}assign{i}"
        ctes.append(_lloyd_assign_sql(f"{p}base", cents, out, keys, width, with_d2))
        if i == iters - 1:
            break
        cents = f"{p}cent{i + 1}"
        ctes.append(f"""
{cents}_sums AS (
  SELECT {kc}cluster, u.i AS comp, sum(vq[u.i]) AS s, count(*) AS n
  FROM {out}, unnest(generate_series(1, {width})) AS u(i)
  GROUP BY {kc}cluster, u.i
),
{cents}_fresh AS (
  SELECT {kc}cluster, list(s / (n * {q}) ORDER BY comp) AS centroid
  FROM {cents}_sums GROUP BY {kc}cluster
),
{cents} AS (
  SELECT {pk}p.cluster, coalesce(f.centroid, p.centroid) AS centroid
  FROM {last} p LEFT JOIN {cents}_fresh f USING ({kc}cluster)
)""")
    return ",".join(ctes), f"{p}assign{iters - 1}", last


def _kmeans_oracle() -> str:
    chain, last_assign, _cents = _lloyd_chain("")
    return f"""
WITH {_vq_base_sql("base")},{chain}
SELECT vec_id, CAST(cluster AS BIGINT) AS cluster
FROM {last_assign}
ORDER BY vec_id
"""


EMB_KMEANS_LLOYD_SQL = _kmeans_oracle()

QUERIES["emb_kmeans_lloyd"] = (emb_kmeans_lloyd, EMB_KMEANS_LLOYD_SQL)


def docs_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-duplicate pruning (Abbas et al. 2023,
    arXiv:2303.09540 — see operators/similarity.py::semdedup): k-means
    clusters bound the pairwise leg, exact cosine within each cluster
    marks semantic twins, keep-min-id survivorship.  The LEARNED-
    blocking counterpart of dedup_embedding_cosine's hyperplane-LSH
    blocking, and the published recipe for pruning web-scale training
    corpora.  Threshold 0.3 measured against BOTH SFs before
    registering (312 within-cluster pairs >= 0.3 at sf0.01, 3836 at
    sf0.1 — within-cluster p99.9 cosine ~0.41 on the near-orthogonal
    synthetic corpus)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup(emb).orderBy("dup_id")


def _semdedup_oracle() -> str:
    thr = similarity.SEMDEDUP_THRESHOLD
    cos = hround_sql(_cos_sql("l.v", "r.v"), 6)
    return f"""
WITH assign AS MATERIALIZED ({EMB_KMEANS_LLOYD_SQL}),
m AS MATERIALIZED (
  SELECT a.vec_id, a.cluster, CAST(e.embedding AS DOUBLE[]) AS v
  FROM assign a JOIN embeddings e USING (vec_id)
),
pairs AS (
  SELECT r.vec_id AS dup_id, r.cluster AS cluster, l.vec_id AS keep_cand,
         {cos} AS cos_sim
  FROM m l JOIN m r ON l.cluster = r.cluster AND l.vec_id < r.vec_id
)
SELECT dup_id, CAST(cluster AS BIGINT) AS cluster,
       MIN(keep_cand) AS keep_id, MAX(cos_sim) AS best_sim,
       CAST(COUNT(*) AS BIGINT) AS n_matches
FROM pairs WHERE cos_sim >= {thr}
GROUP BY dup_id, cluster
ORDER BY dup_id
"""


DOCS_SEMDEDUP_SQL = _semdedup_oracle()

QUERIES["docs_semdedup"] = (docs_semdedup, DOCS_SEMDEDUP_SQL)


def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): per-subspace
    k-means codebooks trained on the full corpus in parallel, every
    vector compressed to m codebook ids — the memory layer under
    billion-scale IVF-PQ ANN. See operators/similarity.py::pq_encode
    for the one-shuffle-per-iteration shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_encode(emb).orderBy("vec_id", "sub")


def _pq_chain(
    base_section: str | None = None, with_d2: bool = False
) -> tuple[str, str, str]:
    """PQ training CTE chain: the subspace-sliced ``base`` (vec_id, sub,
    vq) then :func:`_lloyd_chain` keyed by ``sub`` with the PQ
    constants; returns (chain_sql, last_assign_cte, last_centroids_cte).

    ``base_section`` overrides the leading CTEs up to and including the
    ``base`` CTE (which must yield vec_id, sub, vq) — the IVF-PQ
    oracles inject a residual-based base through here."""
    m, q = similarity.PQ_M, float(similarity.KMEANS_QUANT)
    sub_d = 64 // m
    if base_section is None:
        base_section = f"""base AS MATERIALIZED (
  SELECT vec_id, u.sub AS sub,
         list_transform(generate_series(1, {sub_d}),
             i -> CAST(floor(CAST(embedding AS DOUBLE[])[u.sub * {sub_d} + i]
                             * {q} + 0.5) AS BIGINT)) AS vq
  FROM embeddings, unnest(generate_series(0, {m - 1})) AS u(sub)
)"""
    chain, last_assign, cents = _lloyd_chain(
        "", ("sub",), sub_d, with_d2, similarity.PQ_K, similarity.PQ_ITERS
    )
    return f"{base_section},{chain}", last_assign, cents


def _pq_codes_oracle() -> str:
    chain, last_assign, _cents = _pq_chain()
    return f"""
WITH {chain}
SELECT vec_id, CAST(sub AS INTEGER) AS sub, CAST(cluster AS BIGINT) AS code
FROM {last_assign}
ORDER BY vec_id, sub
"""


EMB_PQ_CODES_SQL = _pq_codes_oracle()

QUERIES["emb_pq_codes"] = (emb_pq_codes, EMB_PQ_CODES_SQL)


def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes — per query, one
    m × k distance table of exact query-to-codeword distances, every
    candidate scored as a sum of m table lookups (the scan IVF-PQ runs
    inside probed lists; operators/similarity.py::pq_adc_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(emb).orderBy("query_id", "rnk")


def _pq_adc_oracle(k: int = 3, n_queries: int = 10) -> str:
    chain, last_assign, cents = _pq_chain()
    q = float(similarity.KMEANS_QUANT)
    pd2 = _sq_dist_sql("qs.qv[i]", "s.centroid[i]", 64 // similarity.PQ_M)
    return f"""
WITH {chain},
qsubs AS (
  SELECT vec_id AS query_id, sub, list_transform(vq, x -> x / {q}) AS qv
  FROM base WHERE vec_id < {n_queries}
),
dtab AS (
  SELECT qs.query_id, s.sub, s.cluster, {pd2} AS pd2
  FROM qsubs qs JOIN {cents} s ON qs.sub = s.sub
),
scored AS (
  SELECT d.query_id, a.vec_id AS cand_id,
         list_reduce(list(pd2 ORDER BY d.sub), (x, y) -> x + y) AS adc_d2
  FROM {last_assign} a
  JOIN dtab d ON d.sub = a.sub AND d.cluster = a.cluster
  WHERE a.vec_id != d.query_id
  GROUP BY d.query_id, a.vec_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rnk, cand_id,
       {hround_sql("adc_d2", 6)} AS adc_d2
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_d2, cand_id) AS rnk
  FROM scored)
WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


SIM_PQ_ADC_TOPK_SQL = _pq_adc_oracle()

QUERIES["sim_pq_adc_topk"] = (sim_pq_adc_topk, SIM_PQ_ADC_TOPK_SQL)


def emb_pq_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-subspace PQ reconstruction SSE — the quantization-distortion
    diagnostic for choosing m and k (operators/similarity.py::pq_sse)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_sse(emb)


def _pq_sse_oracle() -> str:
    chain, last_assign, _cents = _pq_chain(with_d2=True)
    return f"""
WITH {chain}
SELECT CAST(sub AS INTEGER) AS sub,
       CAST(count(*) AS BIGINT) AS n_vecs,
       {hround_sql("sum(d2)", 4)} AS sse
FROM {last_assign}
GROUP BY sub
ORDER BY sub
"""


EMB_PQ_SSE_SQL = _pq_sse_oracle()

QUERIES["emb_pq_sse"] = (emb_pq_sse, EMB_PQ_SSE_SQL)


def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF-PQ search (Jégou et al. 2011 §V): fixed coarse
    quantizer → inverted lists, product-quantized RESIDUALS, nprobe
    list probing, ADC scoring of list members only — the architecture
    that holds a billion vectors in RAM while touching a fraction of
    the corpus per query (operators/similarity.py::ivfpq_search_topk;
    one relational plan, no driver collect)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_search_topk(emb).orderBy("query_id", "rnk")


def _ivfpq_oracle(k: int = 3, n_queries: int = 10) -> str:
    m = similarity.PQ_M
    q = float(similarity.KMEANS_QUANT)
    nprobe, n_clusters = similarity.IVF_NPROBE, similarity.IVF_N_CLUSTERS
    dim = 64
    sub_d = dim // m

    def rcomp(cluster: str) -> str:
        return (
            f"((({similarity.CENT_MIX} * ({cluster} * {dim} + i))"
            f" % {similarity.PLANE_MOD}) / {float(2**31)} - 1.0)"
        )

    base_section = f"""vbase AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cl AS (SELECT unnest(generate_series(0, {n_clusters - 1})) AS c),
coarse AS (
  SELECT vec_id, v, cluster FROM (
    SELECT b.vec_id, b.v, cl.c AS cluster,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_cent_d2_sql("b.v", "cl.c")} ASC,
                                       cl.c ASC) AS rn
    FROM vbase b, cl) t WHERE rn = 1
),
resid AS (
  SELECT vec_id, cluster,
         list_transform(generate_series(1, {dim}),
                        i -> v[i] - {rcomp("cluster")}) AS r
  FROM coarse
),
base AS MATERIALIZED (
  SELECT vec_id, u.sub AS sub,
         list_transform(generate_series(1, {sub_d}),
             i -> CAST(floor(r[u.sub * {sub_d} + i] * {q} + 0.5) AS BIGINT)) AS vq
  FROM resid, unnest(generate_series(0, {m - 1})) AS u(sub)
)"""
    chain, last_assign, cents = _pq_chain(base_section)
    pd2 = _sq_dist_sql("qs.qv[i]", "s.centroid[i]", sub_d)
    return f"""
WITH {chain},
qprobes AS (
  SELECT query_id, cluster FROM (
    SELECT b.vec_id AS query_id, cl.c AS cluster,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_cent_d2_sql("b.v", "cl.c")} ASC,
                                       cl.c ASC) AS pr
    FROM vbase b, cl WHERE b.vec_id < {n_queries}) t WHERE pr <= {nprobe}
),
qres AS (
  SELECT p.query_id, p.cluster AS pcluster,
         list_transform(generate_series(1, {dim}),
             i -> CAST(floor((b.v[i] - {rcomp("p.cluster")}) * {q} + 0.5)
                       AS BIGINT)) AS rvq
  FROM qprobes p JOIN vbase b ON b.vec_id = p.query_id
),
qsubs AS (
  SELECT query_id, pcluster, u.sub AS sub,
         list_transform(generate_series(1, {sub_d}),
                        i -> rvq[u.sub * {sub_d} + i] / {q}) AS qv
  FROM qres, unnest(generate_series(0, {m - 1})) AS u(sub)
),
dtab AS (
  SELECT qs.query_id, qs.pcluster, qs.sub, s.cluster AS code, {pd2} AS pd2
  FROM qsubs qs JOIN {cents} s ON s.sub = qs.sub
),
scored AS (
  SELECT d.query_id, a.vec_id AS cand_id,
         list_reduce(list(pd2 ORDER BY d.sub), (x, y) -> x + y) AS adc_d2
  FROM {last_assign} a
  JOIN coarse co ON co.vec_id = a.vec_id
  JOIN dtab d ON d.pcluster = co.cluster AND d.sub = a.sub
             AND d.code = a.cluster
  WHERE a.vec_id != d.query_id
  GROUP BY d.query_id, a.vec_id
)
SELECT query_id, CAST(rnk AS INTEGER) AS rnk, cand_id,
       {hround_sql("adc_d2", 6)} AS adc_d2
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc_d2, cand_id) AS rnk
  FROM scored) t
WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


SIM_IVFPQ_TOPK_SQL = _ivfpq_oracle()

QUERIES["sim_ivfpq_topk"] = (sim_ivfpq_topk, SIM_IVFPQ_TOPK_SQL)


def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing ANN search-quality audit (VERDICT r5 #2): recall@k of
    the full IVF-PQ pipeline against exact squared-L2 top-k on the
    bounded query set, per query. The oracle re-derives BOTH legs from
    the frozen constants (quantizer grid, nprobe, codebook iterations),
    so any regression in the coarse assignment, residual PQ, or ADC
    scoring shifts the recovered set and hash-fails the driver check —
    the dedup_simhash_recall discipline applied to the ANN family.
    A floor on the recall itself is pinned in
    tests/test_scale_ops.py::TestIvfPqRecall."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = similarity.ivfpq_search_topk(emb).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    exact = similarity.l2_topk(emb, k=3, n_queries=10).select("query_id", "cand_id")
    joined = exact.join(approx, ["query_id", "cand_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        joined.groupBy("query_id")
        .agg(
            n_exact.cast("long").alias("n_exact"),
            n_hit.cast("long").alias("n_hit"),
            hround(n_hit / n_exact, 6).alias("recall"),
        )
        .orderBy("query_id")
    )


def _exact_topk_sql(k: int = 3, n_queries: int = 10, dim: int = 64) -> str:
    """(query_id, cand_id): exact squared-L2 top-k of the bounded query
    set — the truth leg of the ANN recall oracles."""
    l2 = _sq_dist_sql("q.qv[i]", "b.v[i]", dim)
    return f"""
  WITH vecs AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
  q AS (SELECT vec_id AS query_id, v AS qv FROM vecs WHERE vec_id < {n_queries}),
  d AS (
    SELECT q.query_id, b.vec_id AS cand_id, {hround_sql(l2, 6)} AS d2
    FROM vecs b JOIN q ON b.vec_id != q.query_id
  )
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY d2, cand_id) AS rn
    FROM d) t
  WHERE rn <= {k}"""


def _recall_oracle(approx: str, k: int = 3, n_queries: int = 10) -> str:
    """Per-query recall@k of the ``approx`` top-k oracle against exact
    squared-L2 top-k."""
    hit = "sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)"
    return f"""
WITH exact AS ({_exact_topk_sql(k, n_queries)}
),
approx AS ({approx})
SELECT e.query_id,
       CAST(count(*) AS BIGINT) AS n_exact,
       CAST({hit} AS BIGINT) AS n_hit,
       {hround_sql(f"{hit} / count(*)", 6)} AS recall
FROM exact e
LEFT JOIN approx a ON a.query_id = e.query_id AND a.cand_id = e.cand_id
GROUP BY e.query_id
ORDER BY e.query_id
"""


SIM_IVFPQ_RECALL_SQL = _recall_oracle(SIM_IVFPQ_TOPK_SQL)

QUERIES["sim_ivfpq_recall"] = (sim_ivfpq_recall, SIM_IVFPQ_RECALL_SQL)


def sim_ivfpq_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with a LEARNED coarse quantizer (operators/similarity.py::
    ivfpq_kmeans_search_topk) — the round-6 answer to the recall audit:
    the fixed pseudo-random grid co-locates true neighbors at chance
    level on this data (measured coverage ≈ nprobe/n_clusters, recall@3
    = 0), while full-corpus Lloyd centroids recover most of them at the
    same nprobe. Same relational shape; the learned-centroid frame is a
    tiny broadcast join where the grid was a literal expression."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_kmeans_search_topk(emb).orderBy("query_id", "rnk")


def _ivfpq_kmeans_scored_ctes(nprobe: int, n_queries: int = 10) -> str:
    """CTE chain shared by the learned-quantizer IVF-PQ oracles, ending
    in ``scored`` (query_id, cand_id, adc_d2, pr): the Lloyd coarse
    quantizer (``km_*``), residual PQ codebooks, each query's ``nprobe``
    nearest lists with their probe rank ``pr``, and the ADC scores of
    those lists' members (similarity.ivfpq_build_index +
    ivfpq_score_candidates)."""
    m = similarity.PQ_M
    q = float(similarity.KMEANS_QUANT)
    dim = 64
    sub_d = dim // m
    kch, ka, kc = _lloyd_chain("km")
    base_section = f"""{_vq_base_sql("km_base")},{kch},
coarse AS (SELECT vec_id, vq, cluster FROM {ka}),
resid AS (
  SELECT c.vec_id, c.cluster,
         list_transform(generate_series(1, {dim}),
                        i -> c.vq[i] / {q} - s.centroid[i]) AS r
  FROM coarse c JOIN {kc} s USING (cluster)
),
base AS MATERIALIZED (
  SELECT vec_id, u.sub AS sub,
         list_transform(generate_series(1, {sub_d}),
             i -> CAST(floor(r[u.sub * {sub_d} + i] * {q} + 0.5) AS BIGINT)) AS vq
  FROM resid, unnest(generate_series(0, {m - 1})) AS u(sub)
)"""
    chain, last_assign, cents = _pq_chain(base_section)
    return f"""{chain},
qprobes AS (
  SELECT query_id, cluster, centroid, pr FROM (
    SELECT b.vec_id AS query_id, s.cluster, s.centroid,
           ROW_NUMBER() OVER (PARTITION BY b.vec_id
                              ORDER BY {_vq_d2_sql("b.vq", dim)} ASC,
                                       s.cluster ASC) AS pr
    FROM km_base b CROSS JOIN {kc} s WHERE b.vec_id < {n_queries}) t
  WHERE pr <= {nprobe}
),
qres AS (
  SELECT p.query_id, p.cluster AS pcluster, p.pr,
         list_transform(generate_series(1, {dim}),
             i -> CAST(floor((b.vq[i] / {q} - p.centroid[i]) * {q} + 0.5)
                       AS BIGINT)) AS rvq
  FROM qprobes p JOIN km_base b ON b.vec_id = p.query_id
),
qsubs AS (
  SELECT query_id, pcluster, pr, u.sub AS sub,
         list_transform(generate_series(1, {sub_d}),
                        i -> rvq[u.sub * {sub_d} + i] / {q}) AS qv
  FROM qres, unnest(generate_series(0, {m - 1})) AS u(sub)
),
dtab AS (
  SELECT qs.query_id, qs.pcluster, qs.pr, qs.sub, s.cluster AS code,
         {_sq_dist_sql("qs.qv[i]", "s.centroid[i]", sub_d)} AS pd2
  FROM qsubs qs JOIN {cents} s ON s.sub = qs.sub
),
scored AS (
  SELECT d.query_id, a.vec_id AS cand_id,
         list_reduce(list(pd2 ORDER BY d.sub), (x, y) -> x + y) AS adc_d2,
         MIN(d.pr) AS pr
  FROM {last_assign} a
  JOIN coarse co ON co.vec_id = a.vec_id
  JOIN dtab d ON d.pcluster = co.cluster AND d.sub = a.sub
             AND d.code = a.cluster
  WHERE a.vec_id != d.query_id
  GROUP BY d.query_id, a.vec_id
)"""


def _refined_sql(keys: str = "") -> str:
    """Exact squared L2 of every shortlisted (``keys``…, query_id,
    cand_id) row of ``short`` on the original quantized vectors."""
    q = float(similarity.KMEANS_QUANT)
    d2 = _sq_dist_sql(f"qb.vq[i] / {q}", f"cb.vq[i] / {q}", 64)
    return f"""refined AS (
  SELECT {keys}s.query_id, s.cand_id, {d2} AS d2
  FROM short s
  JOIN km_base qb ON qb.vec_id = s.query_id
  JOIN km_base cb ON cb.vec_id = s.cand_id
)"""


def _ivfpq_kmeans_oracle(k: int = 3, n_queries: int = 10) -> str:
    return f"""
WITH {_ivfpq_kmeans_scored_ctes(similarity.IVF_NPROBE, n_queries)},
short AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_d2, cand_id) AS arnk
    FROM scored) t
  WHERE arnk <= {similarity.IVFPQ_REFINE}
),
{_refined_sql()}
SELECT query_id, CAST(rnk AS INTEGER) AS rnk, cand_id,
       {hround_sql("d2", 6)} AS d2
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY {hround_sql("d2", 6)}, cand_id) AS rnk
  FROM refined) t
WHERE rnk <= {k}
ORDER BY query_id, rnk
"""


SIM_IVFPQ_KMEANS_TOPK_SQL = _ivfpq_kmeans_oracle()

QUERIES["sim_ivfpq_kmeans_topk"] = (sim_ivfpq_kmeans_topk, SIM_IVFPQ_KMEANS_TOPK_SQL)


# one trained index per (session, sf_dir): the deployment shape — a
# serving loop holds the IvfPqIndex and pays training ONCE per corpus
# snapshot; keyed by session id so a fresh SparkSession can't read
# another session's dead checkpoint blocks
_IVFPQ_INDEX_CACHE: dict[tuple[int, str], object] = {}


def sim_ivfpq_query_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF-PQ QUERY PATH alone against a prebuilt ``eager=True``
    index (VERDICT r11 #7): ``sim_ivfpq_kmeans_topk`` times train +
    query composed, so the headline series never tracked serving cost
    even though LADDER_r11 shows it is the flat leg (~1.3–2 s warm at
    1×→100× while training grows 5→20 s).  The first call per
    (session, sf) trains and materializes the four index frames —
    bench warmup / the driver's first action absorbs it — and every
    subsequent call pays only probe → ADC shortlist → exact refine.

    Hash-checkable against the SAME oracle as the composed form: the
    index build is deterministic (fixed-init Lloyd + PQ, integer
    quantization), so prebuilt-vs-inline produces identical rows."""
    key = (id(spark), sf_dir)
    index = _IVFPQ_INDEX_CACHE.get(key)
    if index is None:
        emb = load_table(spark, sf_dir, "embeddings")
        index = similarity.ivfpq_build_index(emb, eager=True)
        _IVFPQ_INDEX_CACHE[key] = index
    return similarity.ivfpq_query_index(index).orderBy("query_id", "rnk")


QUERIES["sim_ivfpq_query_only"] = (
    sim_ivfpq_query_only,
    SIM_IVFPQ_KMEANS_TOPK_SQL,
)


def sim_ivfpq_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the LEARNED-quantizer IVF-PQ against exact
    squared-L2 top-k — the standing pair to sim_ivfpq_recall that
    proves the learned coarse quantizer actually buys search quality
    (the recall floor itself is pinned cross-variant in
    tests/test_scale_ops.py::TestIvfPqRecall)."""
    emb = load_table(spark, sf_dir, "embeddings")
    approx = similarity.ivfpq_kmeans_search_topk(emb).select(
        "query_id", "cand_id", F.lit(1).alias("hit")
    )
    exact = similarity.l2_topk(emb, k=3, n_queries=10).select("query_id", "cand_id")
    joined = exact.join(approx, ["query_id", "cand_id"], "left")
    n_exact = F.count(F.lit(1))
    n_hit = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        joined.groupBy("query_id")
        .agg(
            n_exact.cast("long").alias("n_exact"),
            n_hit.cast("long").alias("n_hit"),
            hround(n_hit / n_exact, 6).alias("recall"),
        )
        .orderBy("query_id")
    )


SIM_IVFPQ_KMEANS_RECALL_SQL = _recall_oracle(SIM_IVFPQ_KMEANS_TOPK_SQL)

QUERIES["sim_ivfpq_kmeans_recall"] = (
    sim_ivfpq_kmeans_recall,
    SIM_IVFPQ_KMEANS_RECALL_SQL,
)


def sim_ivfpq_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-vs-cost operating curve for the learned-quantizer IVF-PQ
    (VERDICT r6 #8): per (nprobe, refine_depth) grid point, aggregate
    recall@3 over the query set plus the ADC-scored candidate count —
    the knee of the curve the point audits can't see. One Lloyd + PQ +
    ADC pass at max(nprobe); smaller operating points are probe-rank
    FILTERS (operators/similarity.py::ivfpq_kmeans_recall_sweep)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_kmeans_recall_sweep(emb)


def _ivfpq_sweep_oracle(k: int = 3, n_queries: int = 10) -> str:
    nprobes = list(similarity.IVFPQ_SWEEP_NPROBES)
    refines = list(similarity.IVFPQ_SWEEP_REFINES)
    return f"""
WITH {_ivfpq_kmeans_scored_ctes(max(nprobes), n_queries)},
grid AS (
  SELECT n.nprobe, r.refine_depth
  FROM (SELECT unnest({nprobes}) AS nprobe) n,
       (SELECT unnest({refines}) AS refine_depth) r
),
cand AS (
  SELECT g.nprobe, g.refine_depth, s.query_id, s.cand_id, s.adc_d2
  FROM scored s JOIN grid g ON s.pr <= g.nprobe
),
short AS (
  SELECT nprobe, refine_depth, query_id, cand_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY nprobe, refine_depth, query_id
        ORDER BY adc_d2, cand_id) AS arnk
    FROM cand) t
  WHERE arnk <= refine_depth
),
{_refined_sql("s.nprobe, s.refine_depth, ")},
approx AS (
  SELECT nprobe, refine_depth, query_id, cand_id FROM (
    SELECT *, row_number() OVER (
        PARTITION BY nprobe, refine_depth, query_id
        ORDER BY {hround_sql("d2", 6)}, cand_id) AS rnk
    FROM refined) t
  WHERE rnk <= {k}
),
exact AS ({_exact_topk_sql(k, n_queries)}
),
truth AS (
  SELECT g.nprobe, g.refine_depth, e.query_id, e.cand_id
  FROM exact e CROSS JOIN grid g
),
recall_agg AS (
  SELECT t.nprobe, t.refine_depth,
         CAST(count(*) AS BIGINT) AS n_exact,
         CAST(sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit,
         {hround_sql(
             "sum(CASE WHEN a.cand_id IS NOT NULL THEN 1 ELSE 0 END)"
             " / count(*)", 6
         )} AS recall
  FROM truth t
  LEFT JOIN approx a ON a.nprobe = t.nprobe
                    AND a.refine_depth = t.refine_depth
                    AND a.query_id = t.query_id AND a.cand_id = t.cand_id
  GROUP BY t.nprobe, t.refine_depth
),
costs AS (
  SELECT n.nprobe, CAST(count(*) AS BIGINT) AS n_scored
  FROM scored s JOIN (SELECT unnest({nprobes}) AS nprobe) n
    ON s.pr <= n.nprobe
  GROUP BY n.nprobe
)
SELECT CAST(r.nprobe AS BIGINT) AS nprobe,
       CAST(r.refine_depth AS BIGINT) AS refine_depth,
       r.n_exact, r.n_hit, r.recall, c.n_scored
FROM recall_agg r JOIN costs c ON c.nprobe = r.nprobe
ORDER BY nprobe, refine_depth
"""


SIM_IVFPQ_RECALL_SWEEP_SQL = _ivfpq_sweep_oracle()

QUERIES["sim_ivfpq_recall_sweep"] = (
    sim_ivfpq_recall_sweep,
    SIM_IVFPQ_RECALL_SWEEP_SQL,
)


def emb_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor: train Lloyd centroids on the OLD
    embedding snapshot, assign BOTH snapshots to those frozen centroids
    (operators/similarity.py::assign_to_centroids — the serving-side
    fold, zero shuffles), and compare cluster-share distributions with
    the same Laplace-smoothed PSI as corpus_psi_drift. The standard
    "did my embedding distribution move" check before reusing an ANN
    index or a trained quantizer across corpus versions — a PSI total
    over ~0.25 says retrain the index. Old/new versions follow the
    snapshot-diff id convention; per-cluster rows + the grand-total
    (cluster = -1)."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    old = emb.where(F.col("vec_id") % 10 != 7)
    new = emb.where(F.col("vec_id") % 13 != 5)
    assigned_old, cents = similarity._kmeans_assignments(
        old, with_centroids=True
    )
    # the training chain feeds two consumers (old counts + the frozen
    # centroid frame the new snapshot joins) — one materialization
    assigned_old = assigned_old.localCheckpoint(eager=False)
    cents = cents.localCheckpoint(eager=False)
    assigned_new = similarity.assign_to_centroids(new, cents)
    oc = assigned_old.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_old"))
    nc = assigned_new.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_new"))
    j = (
        oc.join(nc, "cluster", "full_outer")
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            F.coalesce("n_old", F.lit(0)).cast("long").alias("n_old"),
            F.coalesce("n_new", F.lit(0)).cast("long").alias("n_new"),
        )
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy()
    t = j.select(
        "cluster",
        "n_old",
        "n_new",
        F.sum("n_old").over(w).alias("total_old"),
        F.sum("n_new").over(w).alias("total_new"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    p_old = (F.col("n_old") + 1) / (F.col("total_old") + F.col("k"))
    p_new = (F.col("n_new") + 1) / (F.col("total_new") + F.col("k"))
    term = (p_new - p_old) * F.log(p_new / p_old)
    terms = t.select(
        "cluster",
        "n_old",
        "n_new",
        hround(p_old, 6).alias("p_old"),
        hround(p_new, 6).alias("p_new"),
        hround(term, 6).alias("psi_term"),
        term.alias("_raw"),
    )
    total = terms.agg(
        F.lit(-1).cast("long").alias("cluster"),
        F.sum("n_old").alias("n_old"),
        F.sum("n_new").alias("n_new"),
        hround(F.lit(1.0), 6).alias("p_old"),
        hround(F.lit(1.0), 6).alias("p_new"),
        hround(F.sum("_raw"), 6).alias("psi_term"),
    )
    return terms.drop("_raw").unionByName(total).orderBy("cluster")


def _emb_drift_oracle() -> str:
    kch, ka, kc = _lloyd_chain("km")
    new_assign = _lloyd_assign_sql("new_base", kc, "new_assign")
    return f"""
WITH {_vq_base_sql("km_base", "embeddings WHERE vec_id % 10 != 7")},{kch},
{_vq_base_sql("new_base", "embeddings WHERE vec_id % 13 != 5")},{new_assign},
oc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_old FROM {ka}
       GROUP BY cluster),
nc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_new FROM new_assign
       GROUP BY cluster),
j AS (
  SELECT CAST(coalesce(oc.cluster, nc.cluster) AS BIGINT) AS cluster,
         CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
         CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
  FROM oc FULL OUTER JOIN nc ON nc.cluster = oc.cluster
),
t AS (
  SELECT cluster, n_old, n_new,
         SUM(n_old) OVER () AS total_old,
         SUM(n_new) OVER () AS total_new,
         COUNT(*) OVER () AS k
  FROM j
),
terms AS (
  SELECT cluster, n_old, n_new,
         (n_old + 1.0) / (total_old + k) AS p_old_raw,
         (n_new + 1.0) / (total_new + k) AS p_new_raw
  FROM t
)
SELECT cluster, n_old, n_new,
       {hround_sql("p_old_raw", 6)} AS p_old,
       {hround_sql("p_new_raw", 6)} AS p_new,
       {hround_sql("(p_new_raw - p_old_raw) * ln(p_new_raw / p_old_raw)", 6)}
         AS psi_term
FROM terms
UNION ALL
SELECT -1::BIGINT, CAST(SUM(n_old) AS BIGINT), CAST(SUM(n_new) AS BIGINT),
       1.0, 1.0,
       {hround_sql(
           "SUM((p_new_raw - p_old_raw) * ln(p_new_raw / p_old_raw))", 6
       )}
FROM terms
ORDER BY cluster
"""


QUERIES["emb_drift_psi"] = (emb_drift_psi, _emb_drift_oracle())


# ---------------------------------------------------------------------------
# BPE-style adjacent-pair counting — round 4 second pass


BPE_PAIRS_K = 20


def text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of byte-pair / WordPiece tokenizer training: count
    adjacent token pairs across the corpus and rank the merge
    candidates. One explode (zip the token array with its own tail —
    pure JVM, no UDF) and ONE keyed hash-agg with map-side partials;
    top-k via TakeOrderedAndProject. At 100 TB this is the canonical
    map-reduce wordcount shape — nothing to re-plan; each BPE training
    round re-runs it on the re-tokenized corpus."""
    docs = load_table(spark, sf_dir, "documents")
    t = text.tokens_col(F.lower(F.col("text")))
    pairs = docs.select(
        F.explode(
            F.when(
                F.size(t) >= 2,
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda a, b: F.concat(a, F.lit(" "), b),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair"))
        .limit(BPE_PAIRS_K)
    )


TEXT_BPE_PAIRS_SQL = rf"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS t FROM documents
),
pairs AS (
  SELECT t[u.i] || ' ' || t[u.i + 1] AS pair
  FROM toks,
       unnest(CASE WHEN len(t) >= 2 THEN range(1, len(t)) ELSE [] END) AS u(i)
)
SELECT pair, count(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair
LIMIT {BPE_PAIRS_K}
"""

QUERIES["text_bpe_pairs"] = (text_bpe_pairs, TEXT_BPE_PAIRS_SQL)


def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual BPE tokenizer-training merge loop (Sennrich et al.
    2016), distributed: vocabulary-collapse once, then per-merge
    pair-count hash-aggs + map-side literal replaces — see
    operators/text.py::bpe_train for the 100 TB shape. Emits the merge
    table a tokenizer ships."""
    return text.bpe_train(load_table(spark, sf_dir, "documents")).orderBy("merge_rank")


def _bpe_train_oracle() -> str:
    merges = text.BPE_MERGES
    chain = [
        r"""
words AS (
  SELECT w, count(*) AS freq FROM (
    SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
    FROM documents) t0
  WHERE w <> '' GROUP BY w
),
seg0 AS (
  SELECT ' ' || regexp_replace(w, '(.)', '\1  ', 'g') || '</w> ' AS s, freq
  FROM words
)"""
    ]
    # loop-generated CTE chain driven by the SAME constant as the Spark
    # operator (k-means oracle discipline — ADVICE r4).  Double-space
    # symbol delimiters with single-space ends: the literal replace
    # consumes only its own boundary spaces, so adjacent repeated pair
    # occurrences all merge in one pass — canonical Sennrich semantics,
    # mirroring operators/text.py::bpe_train (ADVICE r5).  The LEFT
    # JOIN guard keeps seg{i} populated when an iteration finds no pair
    # (merge budget outlives the corpus), matching the Spark break
    # instead of emptying every downstream CTE (ADVICE r5 item 4).
    for i in range(1, merges + 1):
        chain.append(
            f"""
pairs{i} AS (
  SELECT u.p AS pair, sum(freq) AS n FROM (
    SELECT freq,
           list_transform(generate_series(1, len(a) - 1),
                          j -> a[j] || ' ' || a[j + 1]) AS ps
    FROM (SELECT regexp_split_to_array(trim(s), ' +') AS a, freq
          FROM seg{i - 1}) t{i}a
  ) t{i}b, unnest(ps) AS u(p) GROUP BY u.p
),
m{i} AS (SELECT pair, n FROM pairs{i} ORDER BY n DESC, pair LIMIT 1),
seg{i} AS (
  SELECT CASE WHEN m{i}.pair IS NULL THEN s
              ELSE replace(s, ' ' || replace(m{i}.pair, ' ', '  ') || ' ',
                           ' ' || replace(m{i}.pair, ' ', '') || ' ') END AS s,
         freq
  FROM seg{i - 1} LEFT JOIN m{i} ON true
)"""
        )
    selects = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, pair, replace(pair, ' ', '') AS merged,"
        f" CAST(n AS BIGINT) AS n FROM m{i}"
        for i in range(1, merges + 1)
    )
    return f"WITH {','.join(chain)}\n{selects}\nORDER BY merge_rank"


TEXT_BPE_TRAIN_SQL = _bpe_train_oracle()

QUERIES["text_bpe_train"] = (text_bpe_train, TEXT_BPE_TRAIN_SQL)


def text_bpe_train_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 32K-merge-scale BPE trainer (operators/text.py::
    bpe_train_fast, VERDICT r5 #4): ONE corpus-sized Spark agg
    collapses the corpus to the bounded (word, freq) vocabulary, then
    the merge loop runs driver-side with incremental pair-delta
    statistics (only words containing the merged pair are re-counted —
    subword-nmt's optimization), instead of one vocabulary-sized Spark
    job per merge. Contract-identical to text_bpe_train, so it shares
    that oracle; the per-merge cost model is measured in
    PERFORMANCE.md (256 merges in seconds where the job-per-merge loop
    pays ~0.5 s scheduler floor each)."""
    return text.bpe_train_fast(load_table(spark, sf_dir, "documents")).orderBy(
        "merge_rank"
    )


QUERIES["text_bpe_train_fast"] = (text_bpe_train_fast, TEXT_BPE_TRAIN_SQL)


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merge table to every document → per-doc
    subword statistics (the tokenize-the-corpus step that follows
    training; operators/text.py::bpe_apply). Map-side replace chain —
    learned pairs cannot span word boundaries, so doc-level
    application is exact."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_apply(docs).orderBy("doc_id")


def _bpe_apply_oracle() -> str:
    merges = text.BPE_MERGES
    # the trainer chain (words/seg0/pairs_i/m_i/seg_i) re-learns the
    # merge table, then a doc-wise replace chain applies it
    train = _bpe_train_oracle()
    train_ctes = train[len("WITH ") : train.index("\nSELECT 1 AS merge_rank")]
    chain = [
        r"""
docs_seg0 AS (
  SELECT doc_id,
         length(regexp_replace(trim(lower(text)), '\s+', '', 'g')) AS n_chars_seg,
         array_to_string(
           list_transform(regexp_split_to_array(trim(lower(text)), '\s+'),
                          w -> ' ' || regexp_replace(w, '(.)', '\1  ', 'g')
                               || '</w> '),
           '') AS s
  FROM documents
)"""
    ]
    for i in range(1, merges + 1):
        chain.append(
            f"""
docs_seg{i} AS (
  SELECT doc_id, n_chars_seg,
         CASE WHEN m{i}.pair IS NULL THEN s
              ELSE replace(s, ' ' || replace(m{i}.pair, ' ', '  ') || ' ',
                           ' ' || replace(m{i}.pair, ' ', '') || ' ') END AS s
  FROM docs_seg{i - 1} LEFT JOIN m{i} ON true
)"""
        )
    toks = "len(regexp_split_to_array(trim(s), ' +'))"
    return f"""WITH {train_ctes},{",".join(chain)}
SELECT doc_id,
       CAST(n_chars_seg AS BIGINT) AS n_chars_seg,
       CAST({toks} AS BIGINT) AS n_bpe_tokens,
       {hround_sql(f"n_chars_seg / {toks}", 6)}
         AS chars_per_token
FROM docs_seg{merges}
ORDER BY doc_id
"""


TEXT_BPE_APPLY_SQL = _bpe_apply_oracle()

QUERIES["text_bpe_apply"] = (text_bpe_apply, TEXT_BPE_APPLY_SQL)


# ---------------------------------------------------------------------------
# bigram-LM quality proxy — round 4 second pass


def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprise per document (add-one smoothing) — the next
    model class up from text_unigram_logprob; see
    operators/text.py::bigram_logprob for the plan shape."""
    df = text.bigram_logprob(load_table(spark, sf_dir, "documents"))
    return df.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "mean_neg_logprob",
    )


TEXT_BIGRAM_LOGPROB_SQL = rf"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
  FROM documents
),
pairs AS (
  SELECT doc_id, t[u.i] AS ctx, t[u.i] || ' ' || t[u.i + 1] AS pair
  FROM toks,
       unnest(CASE WHEN len(t) >= 2 THEN range(1, len(t)) ELSE [] END) AS u(i)
),
pc AS (SELECT pair, COUNT(*) AS cp FROM pairs GROUP BY pair),
cc AS (SELECT ctx, COUNT(*) AS cc FROM pairs GROUP BY ctx),
vocab AS (
  SELECT COUNT(DISTINCT u.tok) AS v_vocab
  FROM toks, unnest(t) AS u(tok)
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       {hround_sql("AVG(-ln((cp + 1.0) / (cc + v_vocab)))", 6)} AS mean_neg_logprob
FROM pairs p
JOIN pc USING (pair)
JOIN cc USING (ctx)
CROSS JOIN vocab
GROUP BY p.doc_id
"""

QUERIES["text_bigram_logprob"] = (text_bigram_logprob, TEXT_BIGRAM_LOGPROB_SQL)


def docs_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity tertiles (Wenzek et al. 2020 — see
    operators/text.py::perplexity_buckets): every document scored by
    the corpus bigram LM and split into equal-count head / middle /
    tail buckets of LM surprise, the standard cheap quality
    stratification before corpus sampling.  Deterministic because the
    score is hround(6)-ed BEFORE the (score, doc_id)-ordered ntile —
    bucket boundaries cannot drift on float ties cross-engine."""
    return text.perplexity_buckets(load_table(spark, sf_dir, "documents"))


DOCS_PERPLEXITY_BUCKETS_SQL = f"""
WITH scored AS MATERIALIZED ({TEXT_BIGRAM_LOGPROB_SQL}),
tiled AS (
  SELECT doc_id, mean_neg_logprob,
         ntile(3) OVER (ORDER BY mean_neg_logprob, doc_id) AS t
  FROM scored
)
SELECT doc_id, mean_neg_logprob,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket
FROM tiled
"""

QUERIES["docs_perplexity_buckets"] = (
    docs_perplexity_buckets,
    DOCS_PERPLEXITY_BUCKETS_SQL,
)


# approx twin of docs_perplexity_buckets (round 11, VERDICT r10 #5):
# the scale path perplexity_buckets' docstring promises — approx
# quantile cuts learned in ONE mergeable-sketch agg, buckets assigned
# by a broadcast range test — exercised for real under the same
# tolerance-contract pattern as docs_quality_pct_approx.

PPL_APPROX_ACC = 10000


def perplexity_buckets_approx_frame(
    spark: SparkSession, sf_dir: str, contract: bool = True
) -> DataFrame:
    """CCNet perplexity bucketing WITHOUT the corpus-wide ntile sort:
    ``percentile_approx`` learns the tertile cut points in one hash-agg
    (a mergeable sketch — no global sort, bounded memory at any corpus
    size), then each doc picks its bucket by counting broadcast cuts
    strictly below its score — map-side, shuffle-free past the score
    agg.  The 100 TB shape for the stratification
    ``docs_perplexity_buckets`` checks exactly.

    ``contract=True`` also computes the exact ntile bucket and emits it
    with a boolean asserting the approx bucket landed within ONE tile
    of it (cut-boundary tie quantization is the only legitimate
    divergence; a sketch regression flips the flag and fails the
    driver hash).  ``contract=False`` is the pure production shape —
    plan-tested to contain no Window and no Sort."""
    from pyspark.sql import Window

    scored = text.bigram_logprob(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "mean_neg_logprob"
    )
    probs = [i / text.PPL_BUCKETS for i in range(1, text.PPL_BUCKETS)]
    cuts = scored.agg(
        F.percentile_approx("mean_neg_logprob", probs, PPL_APPROX_ACC).alias(
            "cuts"
        )
    )
    tile_approx = (
        F.size(F.filter(F.col("cuts"), lambda c: c < F.col("mean_neg_logprob")))
        + 1
    )
    names = F.array(*[F.lit(n) for n in text.PPL_BUCKET_NAMES])
    base = scored.crossJoin(F.broadcast(cuts))
    if not contract:
        return base.select(
            "doc_id",
            "mean_neg_logprob",
            F.element_at(names, tile_approx).alias("ppl_bucket_approx"),
        )
    w = Window.orderBy("mean_neg_logprob", "doc_id")
    tile_exact = F.ntile(text.PPL_BUCKETS).over(w)
    return base.select(
        "doc_id",
        "mean_neg_logprob",
        F.element_at(names, tile_exact).alias("ppl_bucket"),
        (F.abs(tile_approx - tile_exact) <= 1).alias("bucket_within_tol"),
    )


def docs_perplexity_buckets_approx(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return perplexity_buckets_approx_frame(spark, sf_dir, contract=True)


DOCS_PERPLEXITY_BUCKETS_APPROX_SQL = f"""
WITH scored AS MATERIALIZED ({TEXT_BIGRAM_LOGPROB_SQL}),
tiled AS (
  SELECT doc_id, mean_neg_logprob,
         ntile(3) OVER (ORDER BY mean_neg_logprob, doc_id) AS t
  FROM scored
)
SELECT doc_id, mean_neg_logprob,
       CASE t WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket,
       TRUE AS bucket_within_tol
FROM tiled
"""

QUERIES["docs_perplexity_buckets_approx"] = (
    docs_perplexity_buckets_approx,
    DOCS_PERPLEXITY_BUCKETS_APPROX_SQL,
)


# ---------------------------------------------------------------------------
# per-source quality quantile normalization — round 4 second pass


def docs_quality_pct_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize the composite quality score WITHIN each
    source: percent_rank over (source) partitions makes "top 30% of
    each domain" cuts comparable across domains whose raw score
    distributions differ — the standard curation step before a global
    quality floor. Rank math is integer (rank-1)/(n-1) over a total
    (quality, doc_id) order, so the output is engine-exact.

    Scale shape: ONE hash-partitioned window on source (sources are
    bounded; the per-source sort is the cost). At 100 TB swap the exact
    percent_rank for the percentile_approx bucket mapping demonstrated
    by corpus_stats — same output contract, mergeable sketch instead of
    a per-source sort."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score(docs).select("doc_id", "quality")
    joined = docs.select("doc_id", "source").join(q, "doc_id")
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    return joined.select(
        "doc_id",
        "source",
        "quality",
        hround(F.percent_rank().over(w), 6).alias("quality_pct"),
    )


def _quality_pct_oracle() -> str:
    # reuse the quality oracle's CTE chain, then one window
    base = QUERIES["text_quality"][1]
    return f"""
WITH q AS ({base})
SELECT d.doc_id, d.source, q.quality,
       {hround_sql("percent_rank() OVER (PARTITION BY d.source ORDER BY q.quality, d.doc_id)", 6)} AS quality_pct
FROM documents d JOIN q USING (doc_id)
"""


DOCS_QUALITY_PCT_RANK_SQL = _quality_pct_oracle()

QUERIES["docs_quality_pct_rank"] = (docs_quality_pct_rank, DOCS_QUALITY_PCT_RANK_SQL)


# percentile-approx twin of docs_quality_pct_rank (round-5): the sketch
# path the docstring above promises at 100 TB, exercised for real under
# the same tolerance-contract pattern as events_cardinality_sketch.

N_PCT_BOUNDS = 20
PCT_APPROX_TOL = 0.10  # 1/N bucket quantization + sketch error + tie spread


def quality_pct_approx_frame(
    spark: SparkSession, sf_dir: str, contract: bool = True
) -> DataFrame:
    """Per-source quantile normalization WITHOUT the per-source window
    sort: one ``percentile_approx`` hash-agg learns ``N_PCT_BOUNDS``
    quantile boundaries per source (a mergeable sketch — no sort, no
    skew sensitivity), then a broadcast join + map-side bucket count
    assigns each doc its approximate percentile. The scale path for
    hot sources where docs_quality_pct_rank's sort dominates.

    ``contract=True`` additionally computes the exact percent_rank and
    emits it with a boolean asserting the approximation landed within
    ``PCT_APPROX_TOL`` — the oracle-checkable form (same pattern as
    events_cardinality_sketch; a sketch regression flips the flag and
    fails the hash). ``contract=False`` is the pure production shape
    benchmarked on the scale ladder."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    q = text.quality_score(docs).select("doc_id", "quality")
    joined = docs.select("doc_id", "source").join(q, "doc_id")
    probs = [i / N_PCT_BOUNDS for i in range(1, N_PCT_BOUNDS)]
    bounds = joined.groupBy("source").agg(
        F.percentile_approx("quality", probs, 10000).alias("bounds")
    )
    approx = (
        F.size(F.filter(F.col("bounds"), lambda b: b <= F.col("quality")))
        .cast("double")
        / N_PCT_BOUNDS
    )
    base = joined.join(F.broadcast(bounds), "source")
    if not contract:
        return base.select(
            "doc_id", "source", "quality", hround(approx, 6).alias("pct_approx")
        )
    w = Window.partitionBy("source").orderBy("quality", "doc_id")
    exact = F.percent_rank().over(w)
    return base.select(
        "doc_id",
        "source",
        "quality",
        hround(exact, 6).alias("quality_pct"),
        (F.abs(approx - exact) <= PCT_APPROX_TOL).alias("pct_within_tol"),
    )


def docs_quality_pct_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_pct_approx_frame(spark, sf_dir, contract=True)


def _quality_pct_approx_oracle() -> str:
    base = QUERIES["text_quality"][1]
    rank = "percent_rank() OVER (PARTITION BY d.source ORDER BY q.quality, d.doc_id)"
    return f"""
WITH q AS ({base})
SELECT d.doc_id, d.source, q.quality,
       {hround_sql(rank, 6)} AS quality_pct,
       TRUE AS pct_within_tol
FROM documents d JOIN q USING (doc_id)
"""


DOCS_QUALITY_PCT_APPROX_SQL = _quality_pct_approx_oracle()

QUERIES["docs_quality_pct_approx"] = (
    docs_quality_pct_approx,
    DOCS_QUALITY_PCT_APPROX_SQL,
)


# ---------------------------------------------------------------------------
# shard export checksums — round 4 second pass


def corpus_shard_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity manifest for a sharded corpus export: per shuffle
    shard, the doc count, token total, and an ORDER-FREE integrity
    checksum (bit_xor of per-doc md5-derived 63-bit ids — xor is
    commutative/associative, so the checksum is identical no matter
    how partitions arrive, and any single-doc corruption flips it).
    The verification step a 100 TB export runs on both ends of a copy.

    One keyed hash-agg on shard_id; everything else is map-side. The
    shard key is the SAME salted selector ``shuffle_shards`` uses, so
    these rows are the manifest of that operator's actual export."""
    docs = load_table(spark, sf_dir, "documents")
    shard = sampling.hash_selector(
        F.col("doc_id"), "shuf", sampling.SHUFFLE_SHARDS
    )
    # 60-bit doc digest over id AND content (15 hex chars: fits BIGINT in
    # both engines with no unsigned-overflow edge)
    digest = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("doc_id"), F.col("text"))), 1, 15),
        16,
        10,
    ).cast("long")
    toks = F.size(text.tokens_col(F.col("text")))
    return (
        docs.select(
            shard.alias("shard_id"),
            digest.alias("digest"),
            toks.cast("long").alias("n_tokens"),
        )
        .groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("token_total"),
            F.expr("bit_xor(digest)").alias("checksum"),
        )
        .orderBy("shard_id")
    )


def _shard_checksums_oracle() -> str:
    shard_sql = sampling.hash_selector_sql("doc_id", "shuf", sampling.SHUFFLE_SHARDS)
    return rf"""
WITH d AS (
  SELECT {shard_sql} AS shard_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))
           AS BIGINT) AS digest,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM documents
)
SELECT shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_total,
       bit_xor(digest) AS checksum
FROM d
GROUP BY shard_id
ORDER BY shard_id
"""


CORPUS_SHARD_CHECKSUMS_SQL = _shard_checksums_oracle()

QUERIES["corpus_shard_checksums"] = (
    corpus_shard_checksums,
    CORPUS_SHARD_CHECKSUMS_SQL,
)


# Compaction target: tokens per output file. Chosen so the sf fixtures
# produce several multi-shard groups (mean shard ≈ 9K tokens at
# sf0.01); a real deployment sets this to its parquet sweet spot
# (~512 MB–1 GB equivalents) — the plan math is size-unit-agnostic.
COMPACT_TARGET_TOKENS = 30_000


def corpus_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction plan (round 7): pack the export's shards
    into output files of ~COMPACT_TARGET_TOKENS each by contiguous
    start-offset binning — shard s joins the group its cumulative
    START offset falls in, the classic deterministic one-pass packing
    (no NP-hard bin packing, no reordering, stable under re-runs). Per
    output group: the shard range to concatenate (contiguous by
    construction — `first_shard..last_shard` IS the merge list), doc
    and token totals, and the over-target flag for single oversized
    shards. The maintenance job every long-lived table needs once
    incremental writes accumulate small files.

    Scale shape: the per-shard manifest is one corpus-sized keyed agg
    (shared with corpus_shard_checksums); the packing window runs on
    MANIFEST-sized data (one row per shard — thousands at 100 TB, not
    corpus rows), so the single-partition running sum is bounded by
    contract, same class as the QA summary collects."""
    from pyspark.sql import Window

    shards = corpus_shard_checksums(spark, sf_dir).select(
        "shard_id", "n_docs", "token_total"
    )
    w = (
        Window.orderBy("shard_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("token_total").over(w) - F.col("token_total")
    planned = shards.withColumn(
        "group_id", F.floor(start / F.lit(COMPACT_TARGET_TOKENS)).cast("long")
    )
    return (
        planned.groupBy("group_id")
        .agg(
            F.count(F.lit(1)).alias("n_shards"),
            F.min("shard_id").alias("first_shard"),
            F.max("shard_id").alias("last_shard"),
            F.sum("n_docs").alias("n_docs"),
            F.sum("token_total").alias("group_tokens"),
            (F.sum("token_total") > F.lit(COMPACT_TARGET_TOKENS)).alias(
                "over_target"
            ),
        )
        .orderBy("group_id")
    )


def _compaction_plan_oracle() -> str:
    manifest = _shard_checksums_oracle().strip()
    return f"""
WITH manifest AS ({manifest}),
planned AS (
  SELECT shard_id, n_docs, token_total,
         CAST(floor((sum(token_total) OVER (ORDER BY shard_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - token_total) / {COMPACT_TARGET_TOKENS}) AS BIGINT)
           AS group_id
  FROM manifest
)
SELECT group_id,
       CAST(count(*) AS BIGINT) AS n_shards,
       MIN(shard_id) AS first_shard,
       MAX(shard_id) AS last_shard,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(token_total) AS BIGINT) AS group_tokens,
       sum(token_total) > {COMPACT_TARGET_TOKENS} AS over_target
FROM planned
GROUP BY group_id
ORDER BY group_id
"""


QUERIES["corpus_compaction_plan"] = (
    corpus_compaction_plan,
    _compaction_plan_oracle(),
)


def corpus_compaction_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integrity proof for the compaction plan, from the checksum
    ALGEBRA: bit_xor is commutative/associative, so a merged output
    file's checksum must equal the xor of its constituent shards'
    checksums. Per planned group, compute the checksum BOTH ways —
    composed from the shard manifest vs direct over the group's
    documents — and emit the equality. This is how both ends of a
    compaction job verify the rewrite moved every byte exactly once
    WITHOUT re-reading the inputs a second time (the manifest already
    has the shard checksums). On this fixture every group matches by
    construction; a mismatch after a real rewrite means rows were
    dropped or duplicated."""
    from pyspark.sql import Window

    shards = corpus_shard_checksums(spark, sf_dir)
    w = (
        Window.orderBy("shard_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("token_total").over(w) - F.col("token_total")
    planned = shards.withColumn(
        "group_id", F.floor(start / F.lit(COMPACT_TARGET_TOKENS)).cast("long")
    )
    composed = planned.groupBy("group_id").agg(
        F.expr("bit_xor(checksum)").alias("checksum_composed"),
        F.sum("n_docs").alias("n_docs"),
    )
    docs = load_table(spark, sf_dir, "documents")
    shard = sampling.hash_selector(
        F.col("doc_id"), "shuf", sampling.SHUFFLE_SHARDS
    )
    digest = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col("text"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    doc_rows = docs.select(shard.alias("shard_id"), digest.alias("digest"))
    direct = (
        doc_rows.join(
            F.broadcast(planned.select("shard_id", "group_id")), "shard_id"
        )
        .groupBy("group_id")
        .agg(F.expr("bit_xor(digest)").alias("checksum_direct"))
    )
    return (
        composed.join(direct, "group_id")
        .select(
            "group_id",
            "n_docs",
            "checksum_composed",
            "checksum_direct",
            (F.col("checksum_composed") == F.col("checksum_direct")).alias(
                "match"
            ),
        )
        .orderBy("group_id")
    )


def _compaction_verify_oracle() -> str:
    manifest = _shard_checksums_oracle().strip()
    shard_sql = sampling.hash_selector_sql("doc_id", "shuf", sampling.SHUFFLE_SHARDS)
    return f"""
WITH manifest AS ({manifest}),
planned AS (
  SELECT shard_id, n_docs, checksum,
         CAST(floor((sum(token_total) OVER (ORDER BY shard_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     - token_total) / {COMPACT_TARGET_TOKENS}) AS BIGINT)
           AS group_id
  FROM manifest
),
composed AS (
  SELECT group_id, bit_xor(checksum) AS checksum_composed,
         CAST(sum(n_docs) AS BIGINT) AS n_docs
  FROM planned GROUP BY group_id
),
doc_rows AS (
  SELECT {shard_sql} AS shard_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))
           AS BIGINT) AS digest
  FROM documents
),
direct AS (
  SELECT p.group_id, bit_xor(d.digest) AS checksum_direct
  FROM doc_rows d JOIN planned p ON p.shard_id = d.shard_id
  GROUP BY p.group_id
)
SELECT c.group_id, c.n_docs, c.checksum_composed, r.checksum_direct,
       c.checksum_composed = r.checksum_direct AS match
FROM composed c JOIN direct r ON r.group_id = c.group_id
ORDER BY c.group_id
"""


QUERIES["corpus_compaction_verify"] = (
    corpus_compaction_verify,
    _compaction_verify_oracle(),
)


def corpus_build_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus build as ONE artifact (round 6): run the
    full preprocessing recipe (gates → exact dedup → LSH components,
    corpus_prep_decisions), keep the survivors, assign them to the
    shuffle shards the export writes, and emit the per-shard manifest —
    doc count, token total, order-free integrity checksum — plus the
    grand-total row (shard_id = -1) in the same single aggregation pass
    (ROLLUP, the transfers-cube TOTAL-row discipline; no second scan).
    This is the artifact a 100 TB training-data build publishes next to
    its shards: what survived curation, how it is sharded, and the
    checksums both ends of every copy verify. Scale shape: the prep
    stages are the measured-flat staged pipeline; the manifest itself
    adds one curated-corpus-sized shuffle on shard_id."""
    prep = corpus_prep_decisions(spark, sf_dir)
    kept = prep.where(F.col("decision") == "kept").select("doc_id")
    docs = load_table(spark, sf_dir, "documents").join(kept, "doc_id")
    shard = sampling.hash_selector(
        F.col("doc_id"), "shuf", sampling.SHUFFLE_SHARDS
    )
    digest = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.col("doc_id"), F.col("text"))), 1, 15),
        16,
        10,
    ).cast("long")
    toks = F.size(text.tokens_col(F.col("text")))
    return (
        docs.select(
            shard.alias("shard_id"),
            digest.alias("digest"),
            toks.cast("long").alias("n_tokens"),
        )
        .rollup("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("token_total"),
            F.expr("bit_xor(digest)").alias("checksum"),
        )
        .select(
            F.coalesce(F.col("shard_id"), F.lit(-1)).cast("long").alias("shard_id"),
            "n_docs",
            "token_total",
            "checksum",
        )
        .orderBy("shard_id")
    )


def _build_manifest_oracle() -> str:
    ctes, final = _corpus_prep_parts()
    shard_sql = sampling.hash_selector_sql("doc_id", "shuf", sampling.SHUFFLE_SHARDS)
    return rf"""
WITH RECURSIVE
{ctes},
prep AS ({final}),
curated AS (
  SELECT d.doc_id, d.text
  FROM documents d JOIN prep p ON p.doc_id = d.doc_id AND p.decision = 'kept'
),
m AS (
  SELECT {shard_sql} AS shard_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))
           AS BIGINT) AS digest,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM curated
)
SELECT CAST(COALESCE(shard_id, -1) AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_total,
       bit_xor(digest) AS checksum
FROM m
GROUP BY ROLLUP (shard_id)
ORDER BY shard_id
"""


CORPUS_BUILD_MANIFEST_SQL = _build_manifest_oracle()

QUERIES["corpus_build_manifest"] = (
    corpus_build_manifest,
    CORPUS_BUILD_MANIFEST_SQL,
)


# ---------------------------------------------------------------------------
# windowed trending top-k — round 4 second pass


TRENDING_K = 3


def events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types per day: counts inside tumbling day buckets,
    then the top-k types within each bucket — the time-sliced variant of
    topk_per_group (the "what's trending" dashboard query). One keyed
    hash-agg on (day, type) + a day-partitioned rank window whose input
    is already aggregate-sized; at 100 TB the agg is the only data-sized
    shuffle and AQE handles hot days."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    daily = (
        events.select(F.to_date("ts").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        daily.select(
            "day", "event_type", "n", F.row_number().over(w).alias("rnk")
        )
        .where(F.col("rnk") <= TRENDING_K)
        .orderBy("day", "rnk")
        .select("day", F.col("rnk").cast("long").alias("rnk"), "event_type", "n")
    )


EVENTS_WINDOWED_TOPK_SQL = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events
  GROUP BY 1, 2
),
ranked AS (
  SELECT day, event_type, n,
         row_number() OVER (PARTITION BY day ORDER BY n DESC, event_type) AS rnk
  FROM daily
)
SELECT day, CAST(rnk AS BIGINT) AS rnk, event_type, n
FROM ranked
WHERE rnk <= {TRENDING_K}
ORDER BY day, rnk
"""

QUERIES["events_windowed_topk"] = (events_windowed_topk, EVENTS_WINDOWED_TOPK_SQL)


# ---------------------------------------------------------------------------
# duplicate-span removal (the actionable cleaned corpus) — round 4 second pass


def text_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebuild every document with corpus-duplicated token spans removed
    (keep-one: the lowest doc_id holding a span keeps it). The transform
    a pipeline actually ships after text_substring_dedup flags spans —
    see operators/dedup.py::remove_duplicate_spans for the shape."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_duplicate_spans(docs).orderBy("doc_id")


def _dedup_spans_oracle() -> str:
    w, s = dedup.SUBSTR_WINDOW, dedup.SUBSTR_STRIDE
    return rf"""
WITH toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS t,
         regexp_split_to_array(trim(lower(text)), '\s+') AS tl
  FROM documents
),
wins AS (
  SELECT doc_id, u.pos,
         CAST(('0x' || substr(md5(array_to_string(
             list_slice(tl, u.pos + 1, u.pos + {w}), ' ')), 1, 15)) AS BIGINT) AS wid
  FROM toks,
       unnest(CASE WHEN len(tl) >= {w}
                   THEN list_filter(range(0, len(tl) - {w} + 1),
                        i -> i = 0 OR CAST(('0x' || substr(md5(tl[i + 1]), 1, 8))
                                           AS BIGINT) % {s} = 0)
                   ELSE [] END) AS u(pos)
),
freq AS (
  SELECT wid, count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keeper
  FROM wins GROUP BY wid
),
removed AS (
  SELECT wins.doc_id, list_sort(list(DISTINCT wins.pos)) AS rm
  FROM wins JOIN freq USING (wid)
  WHERE freq.n_docs >= 2 AND wins.doc_id != freq.keeper
  GROUP BY wins.doc_id
),
rebuilt AS (
  SELECT toks.doc_id, t,
         list_filter(t, (x, i) ->
           len(list_filter(coalesce(rm, []),
                           p -> p <= i - 1 AND i - 1 < p + {w})) = 0) AS kept
  FROM toks LEFT JOIN removed USING (doc_id)
)
SELECT doc_id,
       CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len(kept) AS BIGINT) AS n_removed_tokens,
       coalesce(array_to_string(kept, ' '), '') AS cleaned_text
FROM rebuilt
ORDER BY doc_id
"""


TEXT_DEDUP_SPANS_SQL = _dedup_spans_oracle()

QUERIES["text_dedup_spans"] = (text_dedup_spans, TEXT_DEDUP_SPANS_SQL)


def text_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surgical benchmark decontamination: every corpus doc rebuilt with
    the token spans that also occur in any benchmark doc REMOVED — the
    redaction counterpart to the doc-level flags (exact / bloom /
    fuzzy). A document quoting one benchmark question keeps everything
    but the quote. One-sided shape: the benchmark window-id set is
    broadcast, the corpus never shuffles
    (operators/dedup.py::remove_benchmark_spans)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.remove_benchmark_spans(docs).orderBy("doc_id")


def _span_decon_ctes(benchmark_max_id: int = 50) -> str:
    """CTE chain for the span-redaction oracle (toks → btoks → bwids →
    wins → removed → rebuilt → spancleaned), factored so the manifest
    compositions can concatenate it after the prep + fuzzy chains. CTE
    names collide with neither (_corpus_prep_parts nor
    _fuzzy_decon_ctes("fz_"))."""
    w, s = dedup.SUBSTR_WINDOW, dedup.SUBSTR_STRIDE
    return rf"""toks AS (
  SELECT doc_id,
         regexp_split_to_array(trim(text), '\s+') AS t,
         regexp_split_to_array(trim(lower(text)), '\s+') AS tl
  FROM documents WHERE doc_id >= {benchmark_max_id}
),
btoks AS (
  SELECT regexp_split_to_array(trim(lower(text)), '\s+') AS tl
  FROM documents WHERE doc_id < {benchmark_max_id}
),
bwids AS (
  SELECT DISTINCT CAST(('0x' || substr(md5(array_to_string(
             list_slice(tl, u.pos + 1, u.pos + {w}), ' ')), 1, 15)) AS BIGINT)
           AS wid
  FROM btoks,
       unnest(CASE WHEN len(tl) >= {w}
                   THEN list_filter(range(0, len(tl) - {w} + 1),
                        i -> i = 0 OR CAST(('0x' || substr(md5(tl[i + 1]), 1, 8))
                                           AS BIGINT) % {s} = 0)
                   ELSE [] END) AS u(pos)
),
wins AS (
  SELECT doc_id, u.pos,
         CAST(('0x' || substr(md5(array_to_string(
             list_slice(tl, u.pos + 1, u.pos + {w}), ' ')), 1, 15)) AS BIGINT) AS wid
  FROM toks,
       unnest(CASE WHEN len(tl) >= {w}
                   THEN list_filter(range(0, len(tl) - {w} + 1),
                        i -> i = 0 OR CAST(('0x' || substr(md5(tl[i + 1]), 1, 8))
                                           AS BIGINT) % {s} = 0)
                   ELSE [] END) AS u(pos)
),
removed AS (
  SELECT wins.doc_id, list_sort(list(DISTINCT wins.pos)) AS rm
  FROM wins JOIN bwids USING (wid)
  GROUP BY wins.doc_id
),
rebuilt AS (
  SELECT toks.doc_id, t,
         list_filter(t, (x, i) ->
           len(list_filter(coalesce(rm, []),
                           p -> p <= i - 1 AND i - 1 < p + {w})) = 0) AS kept
  FROM toks LEFT JOIN removed USING (doc_id)
),
spancleaned AS (
  SELECT doc_id,
         CAST(len(t) AS BIGINT) AS n_tokens,
         CAST(len(t) - len(kept) AS BIGINT) AS n_removed_tokens,
         coalesce(array_to_string(kept, ' '), '') AS cleaned_text
  FROM rebuilt
)"""


def _decontaminate_spans_oracle(benchmark_max_id: int = 50) -> str:
    return f"""
WITH {_span_decon_ctes(benchmark_max_id=benchmark_max_id)}
SELECT doc_id, n_tokens, n_removed_tokens, cleaned_text
FROM spancleaned
ORDER BY doc_id
"""


QUERIES["text_decontaminate_spans"] = (
    text_decontaminate_spans,
    _decontaminate_spans_oracle(),
)


# ---------------------------------------------------------------------------
# per-user feature matrix — round 4 second pass


USER_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature matrix from the event log — the feature-
    engineering step that turns raw behavioral events into model inputs:
    fixed-universe per-type counts (static conditional aggs, no pivot
    distinct-scan), value stats, activity span and distinct active days.
    ONE keyed hash-agg on user_id with map-side partials — the
    map-reduce featurization shape that holds at any event volume; the
    single count_distinct plans as a two-level agg, no Expand."""
    events = load_table(spark, sf_dir, "events")
    per_type = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in USER_EVENT_TYPES
    ]
    return (
        events.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            *per_type,
            hround(F.sum("value"), 6).alias("total_value"),
            F.count_distinct(F.to_date("ts")).alias("active_days"),
            F.min(F.to_date("ts")).alias("first_day"),
            F.max(F.to_date("ts")).alias("last_day"),
        )
        .withColumn(
            "span_days",
            (F.datediff(F.col("last_day"), F.col("first_day")) + 1).cast("long"),
        )
        .orderBy("user_id")
    )


def _user_features_oracle() -> str:
    per_type = ",\n       ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS n_{t}"
        for t in USER_EVENT_TYPES
    )
    return f"""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       {per_type},
       {hround_sql("sum(value)", 6)} AS total_value,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
       min(CAST(ts AS DATE)) AS first_day,
       max(CAST(ts AS DATE)) AS last_day,
       CAST(date_diff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) + 1
            AS BIGINT) AS span_days
FROM events
GROUP BY user_id
ORDER BY user_id
"""


EVENTS_USER_FEATURES_SQL = _user_features_oracle()

QUERIES["events_user_features"] = (events_user_features, EVENTS_USER_FEATURES_SQL)


# ---------------------------------------------------------------------------
# k-means training diagnostics — round 4 second pass


def emb_kmeans_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster inertia of the distributed Lloyd run (the convergence
    number). Same plan as emb_kmeans_lloyd plus one k-row agg."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_sse(emb)


def _kmeans_sse_oracle() -> str:
    chain, last_assign, _cents = _lloyd_chain("", with_d2=True)
    return f"""
WITH {_vq_base_sql("base")},{chain}
SELECT CAST(cluster AS BIGINT) AS cluster,
       CAST(count(*) AS BIGINT) AS n_vecs,
       {hround_sql("sum(d2)", 4)} AS sse
FROM {last_assign}
GROUP BY cluster
ORDER BY cluster
"""


EMB_KMEANS_SSE_SQL = _kmeans_sse_oracle()

QUERIES["emb_kmeans_sse"] = (emb_kmeans_sse, EMB_KMEANS_SSE_SQL)


# ---------------------------------------------------------------------------
# Broder containment (doc-in-doc) dedup — the asymmetric case Jaccard
# LSH structurally misses (round 6)


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc near-dup pairs: sampled-shingle inverted index for
    candidates, exact |A∩B|/min(|A|,|B|) verify on candidates only.
    See operators/dedup.py::containment_pairs for the 100 TB shape."""
    return dedup.containment_pairs(load_table(spark, sf_dir, "documents"))


def _containment_chain_sql(source: str = "documents", prefix: str = "") -> str:
    # hashed 60-bit shingle-id arrays, mirroring _sampled_postings: the
    # verify intersects BIGINT lists, and the sampled posting ids come
    # from the same values
    sh = dedup.shingles_sql("text")
    sid = dedup.WINDOW_ID_SQL.format(s="g")
    return f"""
WITH {prefix}sh AS (
  SELECT doc_id, list_transform({sh}, g -> {sid}) AS s FROM {source}
),
posts AS (
  SELECT DISTINCT doc_id, sid FROM (
    SELECT doc_id, u.s AS sid FROM sh, unnest(s) AS u(s)
  ) WHERE sid % {dedup.CONTAIN_SAMPLE_MOD} = 0
),
sizes AS (
  SELECT sid, count(*) AS n FROM posts GROUP BY sid
)"""


def _containment_oracle(source: str = "documents", prefix: str = "") -> str:
    expr = "len(list_intersect(a.s, b.s)) / least(len(a.s), len(b.s))"
    return f"""{_containment_chain_sql(source, prefix)},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM posts a JOIN posts b ON a.sid = b.sid AND a.doc_id < b.doc_id
  JOIN sizes z ON z.sid = a.sid
  WHERE z.n BETWEEN 2 AND {dedup.CONTAIN_MAX_BUCKET}
)
SELECT c.doc_a, c.doc_b,
       {hround_sql(expr, 6)} AS containment
FROM cands c
JOIN sh a ON a.doc_id = c.doc_a
JOIN sh b ON b.doc_id = c.doc_b
WHERE {hround_sql(expr, 6)} >= {dedup.CONTAIN_THRESHOLD}
"""


DEDUP_CONTAINMENT_SQL = _containment_oracle()

QUERIES["dedup_containment"] = (dedup_containment, DEDUP_CONTAINMENT_SQL)


def dedup_containment_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stop-shingle posting lists the containment index skipped —
    the observability twin (minhash_lsh_overflow contract)."""
    df = dedup.containment_overflow(load_table(spark, sf_dir, "documents"))
    return df.select("sid", F.col("n_docs").cast("long").alias("n_docs"))


DEDUP_CONTAINMENT_OVERFLOW_SQL = f"""{_containment_chain_sql()}
SELECT sid, CAST(n AS BIGINT) AS n_docs
FROM sizes WHERE n > {dedup.CONTAIN_MAX_BUCKET}
"""

QUERIES["dedup_containment_overflow"] = (
    dedup_containment_overflow,
    DEDUP_CONTAINMENT_OVERFLOW_SQL,
)


def dedup_containment_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-first containment: fingerprint dedup collapses
    byte-identical groups to one canonical BEFORE the sampled-shingle
    inverted index runs. On duplication-heavy corpora the unstaged
    posting lists fill with identical docs and the candidate expansion
    explodes quadratically (the same measured degenerate mode as
    unstaged 32-bit SimHash — PERFORMANCE.md round-6 ladder); over
    exact survivors the index stays corpus-size-invariant. Same
    staging discipline as dedup_simhash_staged / dedup_decisions."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    survivors = dedup.exact_survivors(docs)
    return dedup.containment_pairs(survivors)


_CONTAIN_STAGED_PREFIX = r"""fpc AS (
  SELECT doc_id,
         md5(array_to_string(
           list_sort(list_distinct(regexp_split_to_array(trim(lower(text)), '\s+'))),
           ' ')) AS fp
  FROM documents
),
canonc AS (SELECT MIN(doc_id) AS doc_id FROM fpc GROUP BY fp),
survivors AS (
  SELECT d.doc_id, d.text FROM documents d JOIN canonc USING (doc_id)
),
"""

DEDUP_CONTAINMENT_STAGED_SQL = _containment_oracle(
    source="survivors", prefix=_CONTAIN_STAGED_PREFIX
)

QUERIES["dedup_containment_staged"] = (
    dedup_containment_staged,
    DEDUP_CONTAINMENT_STAGED_SQL,
)


def dedup_containment_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standing recall audit for the sampled-shingle containment index:
    per containment decile, ground-truth pair count (bounded all-pairs,
    doc_id < 500 — the bound where the sf fixtures carry true
    contained pairs) vs pairs the inverted index recovered. Unlike the
    SimHash pigeonhole audit, the sampled index has NO total-recall
    guarantee (a true pair whose intersection contains no sampled
    shingle is missed), so the oracle recomputes BOTH sides — the audit
    pins the measured recall and the driver hash-fails on any sampling
    or cap regression that moves it."""
    docs = load_table(spark, sf_dir, "documents").where(F.col("doc_id") < 500)
    truth = dedup.containment_all_pairs(docs)
    indexed = dedup.containment_pairs(docs).select(
        F.col("doc_a").alias("i_a"), F.col("doc_b").alias("i_b")
    )
    joined = truth.join(
        indexed,
        (F.col("doc_a") == F.col("i_a")) & (F.col("doc_b") == F.col("i_b")),
        "left",
    )
    decile = hround(F.floor(F.col("containment") * 10) / 10, 1)
    return (
        joined.groupBy(decile.alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(F.col("i_a").isNotNull().cast("long")).alias("n_indexed"),
        )
        .orderBy("decile")
    )


def _containment_recall_oracle() -> str:
    bounded = "documents WHERE doc_id < 500"
    truth_expr = "len(list_intersect(a.s, b.s)) / least(len(a.s), len(b.s))"
    index_side = _containment_oracle(source=bounded).strip()
    return f"""
WITH tsh AS (
  SELECT doc_id, {dedup.shingles_sql("text")} AS s FROM {bounded}
),
truth AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         {hround_sql(truth_expr, 6)} AS containment
  FROM tsh a JOIN tsh b ON a.doc_id < b.doc_id
  WHERE {hround_sql(truth_expr, 6)} >= {dedup.CONTAIN_THRESHOLD}
),
indexed AS ({index_side})
SELECT {hround_sql("floor(t.containment * 10) / 10", 1)} AS decile,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN i.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_indexed
FROM truth t
LEFT JOIN indexed i ON i.doc_a = t.doc_a AND i.doc_b = t.doc_b
GROUP BY 1
ORDER BY decile
"""


DEDUP_CONTAINMENT_RECALL_SQL = _containment_recall_oracle()

QUERIES["dedup_containment_recall"] = (
    dedup_containment_recall,
    DEDUP_CONTAINMENT_RECALL_SQL,
)


def dedup_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF-weighted shingle-cosine near-dup pairs: the sparse
    (inverted-index) similarity primitive — rare shingles dominate, so
    boilerplate overlap scores ~0 and true near-dups ~1. See
    operators/dedup.py::sparse_cosine_pairs for the 100 TB shape."""
    return dedup.sparse_cosine_pairs(load_table(spark, sf_dir, "documents"))


def _sparse_cosine_oracle() -> str:
    sh = dedup.shingles_sql("text")
    qf = float(dedup.SPARSE_IDF2_QUANT)
    idf = "ln((n.n_corpus + 1.0) / (df.df + 1.0))"
    cos = "dotq / sqrt(CAST(na.norm2q AS DOUBLE) * CAST(nb.norm2q AS DOUBLE))"
    return f"""
WITH g AS (
  SELECT doc_id, u.g AS gram
  FROM documents, LATERAL unnest({sh}) AS u(g)
),
gdf AS (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY gram),
n AS (SELECT count(*) AS n_corpus FROM documents),
posts AS (
  SELECT g.doc_id, g.gram,
         CAST(floor({idf.replace('df.df', 'gdf.df')} * {idf.replace('df.df', 'gdf.df')} * {qf} + 0.5) AS BIGINT) AS w2q
  FROM g JOIN gdf USING (gram) CROSS JOIN n
  WHERE gdf.df <= {dedup.SPARSE_MAX_DF}
),
norms AS (
  SELECT doc_id, CAST(sum(w2q) AS BIGINT) AS norm2q FROM posts GROUP BY doc_id
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(sum(a.w2q) AS BIGINT) AS dotq
  FROM posts a JOIN posts b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT p.doc_a, p.doc_b, {hround_sql(cos, 6)} AS cosine
FROM pairs p
JOIN norms na ON na.doc_id = p.doc_a
JOIN norms nb ON nb.doc_id = p.doc_b
WHERE {hround_sql(cos, 6)} >= {dedup.SPARSE_COS_THRESHOLD}
"""


DEDUP_SPARSE_COSINE_SQL = _sparse_cosine_oracle()

QUERIES["dedup_sparse_cosine"] = (dedup_sparse_cosine, DEDUP_SPARSE_COSINE_SQL)


def dedup_sparse_cosine_staged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-first sparse cosine: fingerprint dedup collapses
    byte-identical cliques before the inverted-index join (on a
    duplication-heavy corpus every clique shingle sits under the df
    cap and the posting self-join explodes quadratically — the same
    measured degenerate family as every unstaged near-dup form; see
    PERFORMANCE.md). Same staging discipline as dedup_simhash_staged /
    dedup_containment_staged."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    survivors = dedup.exact_survivors(docs)
    return dedup.sparse_cosine_pairs(survivors)


def _sparse_cosine_staged_oracle() -> str:
    base = _sparse_cosine_oracle()
    # splice the survivor CTEs in front and point the gram explode at
    # them; the n CTE stays survivor-sized (N is the deduped corpus)
    return base.replace(
        "WITH g AS (",
        f"WITH {_CONTAIN_STAGED_PREFIX.rstrip()}\ng AS (",
        1,
    ).replace(
        "FROM documents, LATERAL unnest(", "FROM survivors, LATERAL unnest(", 1
    ).replace(
        "SELECT count(*) AS n_corpus FROM documents",
        "SELECT count(*) AS n_corpus FROM survivors",
        1,
    )


DEDUP_SPARSE_COSINE_STAGED_SQL = _sparse_cosine_staged_oracle()

QUERIES["dedup_sparse_cosine_staged"] = (
    dedup_sparse_cosine_staged,
    DEDUP_SPARSE_COSINE_STAGED_SQL,
)


def dedup_contained_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subset-pruning decisions: a document fully contained in a longer
    one (containment = 1.0 at the shingle level) is redundant training
    text — label every doc kept / dropped_contained with the id of its
    smallest-id container. Composes the staged containment pairs with
    a shorter-side resolution: the doc with FEWER distinct shingles
    (ties: higher doc_id) drops. One candidate pipeline + one keyed
    min-agg; at 100 TB this runs over exact-dedup survivors like every
    near-dup stage (the staged discipline)."""
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.size(dedup.shingles_col(F.col("text"))).alias("n_sh")
    ).localCheckpoint(eager=False)
    pairs = dedup.containment_pairs(docs, threshold=1.0)
    sized = (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")),
            "doc_b",
        )
    )
    # the contained (smaller) side drops; equal sizes = mutual
    # containment (same shingle set) -> the higher id drops
    dropped = sized.select(
        F.when(
            (F.col("na") < F.col("nb"))
            | ((F.col("na") == F.col("nb")) & (F.col("doc_a") > F.col("doc_b"))),
            F.struct(F.col("doc_a").alias("doc_id"), F.col("doc_b").alias("container")),
        )
        .otherwise(
            F.struct(F.col("doc_b").alias("doc_id"), F.col("doc_a").alias("container"))
        )
        .alias("d")
    ).select("d.doc_id", "d.container")
    resolved = dropped.groupBy("doc_id").agg(F.min("container").alias("container"))
    return (
        docs.select("doc_id")
        .join(resolved, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("container").isNull(), F.lit("kept"))
            .otherwise(F.lit("dropped_contained"))
            .alias("decision"),
            F.col("container").cast("long").alias("container"),
        )
        .orderBy("doc_id")
    )


def _contained_docs_oracle() -> str:
    pairs = _containment_oracle().strip()
    sh = dedup.shingles_sql("text")
    return f"""
WITH cpairs AS ({pairs}),
sizes AS (
  SELECT doc_id, len({sh}) AS n_sh FROM documents
),
perfect AS (
  SELECT p.doc_a, p.doc_b, a.n_sh AS na, b.n_sh AS nb
  FROM cpairs p
  JOIN sizes a ON a.doc_id = p.doc_a
  JOIN sizes b ON b.doc_id = p.doc_b
  WHERE p.containment >= 1.0
),
dropped AS (
  SELECT CASE WHEN na < nb OR (na = nb AND doc_a > doc_b)
              THEN doc_a ELSE doc_b END AS doc_id,
         CASE WHEN na < nb OR (na = nb AND doc_a > doc_b)
              THEN doc_b ELSE doc_a END AS container
  FROM perfect
),
resolved AS (
  SELECT doc_id, MIN(container) AS container FROM dropped GROUP BY doc_id
)
SELECT d.doc_id,
       CASE WHEN r.container IS NULL THEN 'kept'
            ELSE 'dropped_contained' END AS decision,
       CAST(r.container AS BIGINT) AS container
FROM documents d LEFT JOIN resolved r USING (doc_id)
ORDER BY d.doc_id
"""


DEDUP_CONTAINED_DOCS_SQL = _contained_docs_oracle()

QUERIES["dedup_contained_docs"] = (dedup_contained_docs, DEDUP_CONTAINED_DOCS_SQL)


# ---------------------------------------------------------------------------
# decontamination-composed corpus build (round 8 — VERDICT r7 #6):
# corpus_build_manifest predates the fuzzy/span decontamination family;
# these two queries add the decontamination gate to the build recipe so
# the SHIPPED artifact is benchmark-clean by construction — doc-level
# near-match drops first, surgical span redaction on what survives, and
# the manifest checksums cover the REDACTED bytes (what actually ships),
# not the raw text.


def _decon_decision_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc decision for the decontaminated build. The prep recipe
    runs over the CORPUS PARTITION ONLY (doc_id >= 50) — production
    semantics: the benchmark is a holdout, never part of the dedup
    universe (dedupe against your eval set and contaminated docs get
    'dropped_near' with a BENCHMARK doc as their canonical — the
    structural leak the first draft of this query exposed,
    SELFREVIEW_r8). Labels: every benchmark doc is 'benchmark_holdout';
    corpus docs keep their prep label when prep dropped them; prep-kept
    docs whose best benchmark Jaccard clears the fuzzy threshold are
    'dropped_contaminated'; docs the span pass rewrote are 'redacted';
    'kept' otherwise. cleaned_text rides along for the manifest."""
    return _decon_decision_frame_for(load_table(spark, sf_dir, "documents"))


def _decon_decision_frame_for(docs: DataFrame) -> DataFrame:
    prep = _prep_decisions_for(docs.where(F.col("doc_id") >= 50)).select(
        "doc_id", "decision"
    )
    flagged = (
        text.decontaminate_fuzzy(docs)
        .where(F.col("flagged"))
        .select("doc_id", F.lit(True).alias("is_flagged"))
    )
    spans = dedup.remove_benchmark_spans(docs).select(
        "doc_id",
        (F.col("n_removed_tokens") > 0).alias("is_redacted"),
        "cleaned_text",
    )
    out = prep.join(flagged, "doc_id", "left").join(spans, "doc_id", "left")
    decision = (
        F.when(F.col("decision") != "kept", F.col("decision"))
        .when(F.col("is_flagged"), F.lit("dropped_contaminated"))
        .when(F.col("is_redacted"), F.lit("redacted"))
        .otherwise(F.lit("kept"))
    )
    corpus = out.select("doc_id", decision.alias("decision"), "cleaned_text")
    bench = docs.where(F.col("doc_id") < 50).select(
        "doc_id",
        F.lit("benchmark_holdout").alias("decision"),
        F.lit(None).cast("string").alias("cleaned_text"),
    )
    return corpus.unionByName(bench)


def corpus_decon_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stage decision counts for the decontaminated corpus build
    (VERDICT r7 #6): the prep stages (language / quality / repetition
    gates, exact dedup, LSH near-dedup) EXTENDED with the
    decontamination stages — benchmark holdout, fuzzy doc-level drops,
    span redaction — in production precedence order. One row per
    decision; the artifact a build publishes to show where every
    document went. Scale shape: the prep chain is the measured-flat
    staged pipeline; the fuzzy leg broadcasts only benchmark-derived
    band buckets; the span leg broadcasts the benchmark window-id set —
    nothing corpus × corpus anywhere in the chain."""
    frame = _decon_decision_frame(spark, sf_dir)
    return (
        frame.groupBy("decision")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("decision")
    )


def _decon_compose_ctes() -> str:
    """Shared oracle CTE chain: prep parts OVER THE CORPUS PARTITION
    (the benchmark never enters the dedup universe) + prefixed
    fuzzy-decon chain + span chain + the flagged-id set — concatenated
    under one WITH RECURSIVE (DuckDB top-only rule)."""
    ctes, final = _corpus_prep_parts(" WHERE doc_id >= 50")
    return f"""{ctes},
prep AS ({final}),
{_fuzzy_decon_ctes(prefix="fz_")},
fzflagged AS (
  SELECT doc_id FROM fz_ranked WHERE rn = 1 AND jaccard >= 0.3
),
{_span_decon_ctes()}"""


def _decon_decisions_oracle() -> str:
    return f"""
WITH RECURSIVE
{_decon_compose_ctes()},
decided AS (
  SELECT p.doc_id,
         CASE WHEN p.decision != 'kept' THEN p.decision
              WHEN f.doc_id IS NOT NULL THEN 'dropped_contaminated'
              WHEN s.n_removed_tokens > 0 THEN 'redacted'
              ELSE 'kept' END AS decision
  FROM prep p
  LEFT JOIN fzflagged f ON f.doc_id = p.doc_id
  LEFT JOIN spancleaned s ON s.doc_id = p.doc_id
  UNION ALL
  SELECT doc_id, 'benchmark_holdout' AS decision
  FROM documents WHERE doc_id < 50
)
SELECT decision, CAST(count(*) AS BIGINT) AS n_docs
FROM decided GROUP BY decision ORDER BY decision
"""


QUERIES["corpus_decon_decisions"] = (
    corpus_decon_decisions,
    _decon_decisions_oracle(),
)


def corpus_build_manifest_decon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontaminated end-to-end corpus build as ONE artifact: prep
    survivors minus benchmark holdout minus fuzzy-flagged docs, span
    redaction applied, then the per-shard manifest — doc count, token
    total, order-free xor checksum — plus the ROLLUP grand-total row
    (shard_id = -1). The checksums cover the REDACTED token stream (the
    bytes that actually ship), so both ends of a copy verify the
    benchmark-clean artifact, not its contaminated ancestor. Composes
    corpus_build_manifest with the text_decontaminate_fuzzy and
    text_decontaminate_spans stages; same single-aggregation-pass shape,
    one curated-corpus-sized shuffle on shard_id."""
    frame = _decon_decision_frame(spark, sf_dir)
    final = frame.where(F.col("decision").isin("kept", "redacted"))
    shard = sampling.hash_selector(
        F.col("doc_id"), "shuf", sampling.SHUFFLE_SHARDS
    )
    digest = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("doc_id"), F.col("cleaned_text"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    toks = F.size(text.tokens_col(F.col("cleaned_text")))
    return (
        final.select(
            shard.alias("shard_id"),
            digest.alias("digest"),
            toks.cast("long").alias("n_tokens"),
        )
        .rollup("shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("token_total"),
            F.expr("bit_xor(digest)").alias("checksum"),
        )
        .select(
            F.coalesce(F.col("shard_id"), F.lit(-1)).cast("long").alias("shard_id"),
            "n_docs",
            "token_total",
            "checksum",
        )
        .orderBy("shard_id")
    )


def _build_manifest_decon_oracle() -> str:
    shard_sql = sampling.hash_selector_sql("doc_id", "shuf", sampling.SHUFFLE_SHARDS)
    return rf"""
WITH RECURSIVE
{_decon_compose_ctes()},
fdocs AS (
  SELECT s.doc_id, s.cleaned_text AS text
  FROM prep p
  JOIN spancleaned s ON s.doc_id = p.doc_id
  LEFT JOIN fzflagged f ON f.doc_id = p.doc_id
  WHERE p.decision = 'kept' AND f.doc_id IS NULL
),
m AS (
  SELECT {shard_sql} AS shard_id,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' || text), 1, 15))
           AS BIGINT) AS digest,
         len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
  FROM fdocs
)
SELECT CAST(COALESCE(shard_id, -1) AS BIGINT) AS shard_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS token_total,
       bit_xor(digest) AS checksum
FROM m
GROUP BY ROLLUP (shard_id)
ORDER BY shard_id
"""


QUERIES["corpus_build_manifest_decon"] = (
    corpus_build_manifest_decon,
    _build_manifest_decon_oracle(),
)


# ---------------------------------------------------------------------------
# DSIR-style importance weights (round 9)


def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data Selection via Importance Resampling weights
    (operators/text.py::dsir_logratio_weights): every raw-pool document
    scored by the mean token log-ratio between the benchmark-like
    TARGET unigram model (doc_id < 50, the decontamination family's
    split convention) and the raw-pool model, add-one smoothed over the
    shared vocabulary. The data-mixture counterpart to the quality LR:
    instead of "is this document good", "does this document look like
    the distribution I want more of" — sampling ∝ exp(log_weight)
    implements the tilt. Same log/avg/hround(6) determinism contract as
    text_unigram_logprob."""
    return text.dsir_logratio_weights(
        load_table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


def _dsir_oracle() -> str:
    from pos_pipeline_core_etl_spark.operators.text import DSIR_TARGET_MAX_ID

    m = DSIR_TARGET_MAX_ID
    lr = (
        "ln(((v.c_t + 1.0) / (t.n_t + t.v)) / ((v.c_r + 1.0) / (t.n_r + t.v)))"
    )
    return f"""
WITH {_TOKS_CTE},
ct AS (SELECT token, count(*) AS c_t FROM toks WHERE doc_id < {m} GROUP BY token),
cr AS (SELECT token, count(*) AS c_r FROM toks WHERE doc_id >= {m} GROUP BY token),
vocab AS (
  SELECT COALESCE(ct.token, cr.token) AS token,
         COALESCE(c_t, 0) AS c_t, COALESCE(c_r, 0) AS c_r
  FROM ct FULL OUTER JOIN cr ON cr.token = ct.token
),
t AS (SELECT SUM(c_t) AS n_t, SUM(c_r) AS n_r, count(*) AS v FROM vocab)
SELECT r.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       {hround_sql(f"AVG({lr})", 6)} AS log_weight
FROM toks r JOIN vocab v ON v.token = r.token CROSS JOIN t
WHERE r.doc_id >= {m}
GROUP BY r.doc_id
ORDER BY r.doc_id
"""


QUERIES["docs_dsir_weights"] = (docs_dsir_weights, _dsir_oracle())
