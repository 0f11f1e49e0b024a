"""Text-analysis operators for training-data pipelines.

All pure JVM column expressions (split/filter/aggregate higher-order
functions) — no Python in the hot path, so these run at scan speed over
100 TB of documents:

- ``token_counts``: whitespace tokens + a BPE-ish regex token count.
- ``quality_score``: length/punctuation/stopword-ratio features and a
  composite score.
- ``lang_id``: n-gram/stopword-hit language scoring with deterministic
  arg-max.
- ``fingerprint``: order-insensitive document fingerprint (md5 of the
  sorted distinct token set) — the exact-dedup key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.functions.rounding import hround
from pos_pipeline_core_etl_spark.operators.common import ensure_parallelism

TOKEN_SPLIT_RE = r"\s+"
# word / number / single punctuation — a BPE-ish pre-tokenizer
BPE_ISH_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is")

# language → marker-word set (tiny deterministic heuristic; real systems
# plug a model UDF here, the plumbing is identical)
LANG_MARKERS = {
    "de": ("der", "die", "und", "nicht", "das"),
    "en": ("the", "and", "of", "is", "a"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "et", "les", "des"),
}


def tokens_col(text: Column) -> Column:
    return F.split(F.trim(text), TOKEN_SPLIT_RE)


def token_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = tokens_col(F.col(text_col))
    return docs.select(
        "doc_id",
        F.size(t).alias("n_tokens_ws"),
        F.regexp_count(F.col(text_col), F.lit(BPE_ISH_RE)).alias("n_tokens_bpe"),
        F.length(text_col).alias("n_chars"),
    )


def _count_in_set(tokens: Column, words: tuple[str, ...]) -> Column:
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(F.filter(tokens, lambda x: F.array_contains(arr, F.lower(x))))


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword features + composite quality score."""
    t = tokens_col(F.col(text_col))
    n_chars = F.length(text_col)
    n_words = F.size(t)
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    n_stop = _count_in_set(t, STOPWORDS)
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(n_punct / n_chars)
    stop_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(n_stop / n_words)
    avg_word_len = F.when(n_words == 0, F.lit(0.0)).otherwise(
        (n_chars - (n_words - 1)) / n_words
    )
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        hround(punct_ratio, 6).alias("punct_ratio"),
        hround(stop_ratio, 6).alias("stopword_ratio"),
        hround(avg_word_len, 6).alias("avg_word_len"),
        hround(score, 6).alias("quality"),
    )


def lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic stopword-hit language scoring.

    Arg-max over per-language marker counts; ties break alphabetically
    (stable across engines). Unmatched text falls to the first language
    alphabetically with count 0 — callers treat score 0 as 'und'.
    """
    t = tokens_col(F.col(text_col))
    scored = docs.select(
        "doc_id",
        *[
            _count_in_set(t, words).alias(f"score_{lang}")
            for lang, words in sorted(LANG_MARKERS.items())
        ],
    )
    best: Column = F.lit(None)
    # reverse alphabetical fold so earlier languages win ties
    langs = sorted(LANG_MARKERS)
    best_score = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pred: Column | None = None
    for lang in langs:
        cond = F.col(f"score_{lang}") == best_score
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    assert pred is not None
    return scored.select(
        "doc_id",
        *[f"score_{lang}" for lang in langs],
        F.when(best_score == 0, F.lit("und")).otherwise(pred).alias("lang_pred"),
    )


def fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """md5 over the sorted distinct lowercase token set (exact-dedup key)."""
    t = F.array_sort(F.array_distinct(tokens_col(F.lower(F.col(text_col)))))
    return docs.select(
        "doc_id",
        F.md5(F.array_join(t, " ")).alias("fp"),
        F.size(t).alias("n_distinct_tokens"),
    )


def corpus_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, token) long form: lowercase whitespace tokens, exploded.
    The shared first stage of vocabulary / TF-IDF — one explode, no
    Python."""
    return docs.select(
        "doc_id",
        F.explode(tokens_col(F.lower(F.trim(F.col(text_col))))).alias("token"),
    )


DSIR_TARGET_MAX_ID = 50


def dsir_logratio_weights(
    docs: DataFrame,
    text_col: str = "text",
    target_max_id: int = DSIR_TARGET_MAX_ID,
) -> DataFrame:
    """Importance-resampling weights for data selection (the DSIR
    recipe, public: Xie et al. 2023 — hashed/unigram importance
    weights): score every RAW-pool document by the mean log-ratio of
    its tokens' probabilities under a TARGET distribution vs the raw
    distribution, log w(x) = mean_tok ln(p_target(tok) / p_raw(tok)),
    both unigram models add-one smoothed over the SHARED vocabulary.
    Positive = looks like the target; sampling ∝ exp(w) tilts the
    training mixture toward the target domain. The target here is the
    benchmark-like partition (doc_id < target_max_id — the same split
    convention as the decontamination family), the raw pool everything
    else.

    Determinism: the same F.log/avg/hround(6) contract as
    :func:`unigram_logprob` (per-token doubles, one rounded mean).
    Scale shape: two token-key aggregations + one token-key join from
    the raw pool into the (vocab-sized) model table + one doc-key agg;
    totals ride along via a broadcast cross join — no driver math, no
    corpus × corpus."""
    toks = corpus_tokens(docs, text_col)
    tgt = toks.where(F.col("doc_id") < target_max_id)
    raw = toks.where(F.col("doc_id") >= target_max_id)
    ct = tgt.groupBy("token").agg(F.count(F.lit(1)).alias("c_t"))
    cr = raw.groupBy("token").agg(F.count(F.lit(1)).alias("c_r"))
    vocab = (
        ct.join(cr, "token", "full_outer")
        .select(
            "token",
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
            F.coalesce("c_r", F.lit(0)).alias("c_r"),
        )
    )
    totals = vocab.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_r").alias("n_r"),
        F.count(F.lit(1)).alias("v"),
    )
    scored = (
        raw.join(vocab, "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.log(
                ((F.col("c_t") + 1.0) / (F.col("n_t") + F.col("v")))
                / ((F.col("c_r") + 1.0) / (F.col("n_r") + F.col("v")))
            ).alias("lr"),
        )
    )
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        hround(F.avg("lr"), 6).alias("log_weight"),
    )


def vocabulary(docs: DataFrame, text_col: str = "text", min_count: int = 2) -> DataFrame:
    """Corpus vocabulary: per token, total occurrences + document
    frequency, min-count filtered. One shuffle on the token key (the
    single countDistinct plans as two-level agg — no Expand); at 100 TB
    this is the canonical vocab-building job shape."""
    toks = corpus_tokens(docs, text_col)
    return (
        toks.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_total") >= min_count)
    )


def tfidf_topk(docs: DataFrame, k: int = 5, text_col: str = "text") -> DataFrame:
    """Top-k TF-IDF terms per document (smooth idf = ln((N+1)/(df+1))).

    tf and df are two aggregations over the shared token explode; N
    arrives via a broadcast cross join (stays in-plan — no driver
    action). Scores are rounded BEFORE ranking and ties break on token
    so rank order is engine-independent.
    """
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    toks = corpus_tokens(docs, text_col)
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n_corpus"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            hround(
                F.col("tf")
                * F.log((F.col("n_corpus") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("doc_id", F.col("rnk").cast("long").alias("rnk"), "token", "score")
    )


def decontaminate(
    docs: DataFrame,
    benchmark_max_id: int = 50,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, the fraction of its
    distinct n-gram shingles that appear in ANY benchmark document
    (docs with doc_id < ``benchmark_max_id`` stand in for the benchmark
    set). The standard guard against test-set leakage into training data.

    Scale shape: the benchmark gram set is benchmark-sized (broadcast);
    the corpus explodes once and aggregates once on doc_id — one
    data-sized shuffle, no doc × doc work.
    """
    from pos_pipeline_core_etl_spark.operators.dedup import shingles_col

    corpus = docs.where(F.col("doc_id") >= benchmark_max_id).select(
        "doc_id", F.explode(shingles_col(F.col(text_col))).alias("gram")
    )
    bench = (
        docs.where(F.col("doc_id") < benchmark_max_id)
        .select(F.explode(shingles_col(F.col(text_col))).alias("gram"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    joined = corpus.join(F.broadcast(bench), "gram", "left")
    agg = joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count(F.col("hit")).alias("n_contaminated"),
    )
    contamination = hround(F.col("n_contaminated") / F.col("n_grams"), 6)
    return agg.select(
        "doc_id",
        "n_grams",
        "n_contaminated",
        contamination.alias("contamination"),
        (contamination >= F.lit(threshold)).alias("flagged"),
    )


def repetition_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals — duplicate-token,
    duplicate-bigram and top-token fractions, all JVM array expressions
    (per-row cost bounded by document length; no shuffle at all)."""
    t = tokens_col(F.lower(F.trim(F.col(text_col))))
    n_tokens = F.size(t)
    n_distinct = F.size(F.array_distinct(t))
    # F.sequence(1, n-1) auto-steps DOWN when n_tokens < 2 ([1, 0], [1, 0, -1]),
    # which would call element_at out of bounds — guard to an empty bigram list
    # so one-token/empty docs yield n_bi = 0, matching the oracle's empty
    # generate_series(1, 0).
    bigrams = F.when(
        n_tokens >= 2,
        F.transform(
            F.sequence(F.lit(1), n_tokens - 1),
            lambda i: F.concat(F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n_bi = F.size(bigrams)
    n_bi_distinct = F.size(F.array_distinct(bigrams))
    top_count = F.array_max(
        F.transform(
            F.array_distinct(t),
            lambda x: F.size(F.filter(t, lambda y: y == x)),
        )
    )
    frac = lambda num, den: F.when(den <= 0, F.lit(0.0)).otherwise(num / den)  # noqa: E731
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        hround(frac(n_tokens - n_distinct, n_tokens), 6).alias("dup_token_frac"),
        hround(frac(n_bi - n_bi_distinct, n_bi), 6).alias("dup_bigram_frac"),
        hround(frac(top_count, n_tokens), 6).alias("top_token_frac"),
    )


PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "\\+?[0-9][0-9\\- ]{6,}[0-9]"
PII_IP_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"


def pii_scan(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII detection + redaction fingerprint (emails / phones / IPv4).

    The synthetic corpus carries no PII, so the query itself injects
    deterministic PII-shaped suffixes into a doc_id-keyed subset (the
    identical expression runs in the SQL oracle) — the detectors are
    exercised for real, not vacuously zero. Redaction is asserted via
    the md5 of the email-scrubbed text.
    """
    injected = (
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col(text_col),
                F.lit(" contact-"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col(text_col),
                F.lit(" call +1 555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        )
        .otherwise(F.col(text_col))
    )
    n_emails = F.regexp_count(injected, F.lit(PII_EMAIL_RE))
    n_phones = F.regexp_count(injected, F.lit(PII_PHONE_RE))
    n_ips = F.regexp_count(injected, F.lit(PII_IP_RE))
    return docs.select(
        "doc_id",
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
        ((n_emails + n_phones + n_ips) > 0).alias("has_pii"),
        F.md5(F.regexp_replace(injected, PII_EMAIL_RE, "<EMAIL>")).alias("redacted_md5"),
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Unigram-LM quality proxy: per document, the mean negative log
    probability of its tokens under the corpus unigram distribution with
    add-one smoothing — the cheap stand-in for KenLM perplexity filters.

    p(tok) = (count(tok) + 1) / (N + V).  Two canonical shuffles (token
    key, then doc key); N and V ride along via a broadcast cross join —
    everything stays in-plan.
    """
    toks = corpus_tokens(docs, text_col)
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n_corpus"), F.count(F.lit(1)).alias("v_vocab")
    )
    scored = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            (-F.log((F.col("c") + 1.0) / (F.col("n_corpus") + F.col("v_vocab")))).alias(
                "nll"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        hround(F.avg("nll"), 6).alias("mean_neg_logprob"),
    )


# ---------------------------------------------------------------------------
# bloom-filter decontamination (round 4)

BLOOM_BITS = 1 << 16  # bitmap size (m); fp rate ~ (set_bits/m)^k
BLOOM_WORD = 32  # bits used per array word (stays off the sign bit)
BLOOM_N_WORDS = BLOOM_BITS // BLOOM_WORD
# (a, b) for h_i(x) = (a·x + b) mod m — fixed odd multipliers, no RNG,
# shared with the DuckDB twin via code generation (same convention as
# dedup._hash_params)
BLOOM_HASHES = ((3, 7919), (5, 15838), (7, 23757))


def decontaminate_bloom(
    docs: DataFrame,
    spark,
    text_col: str = "text",
    benchmark_max_id: int = 50,
) -> DataFrame:
    """Bloom-filter benchmark decontamination — the shape that survives a
    benchmark gram set too large to broadcast raw.

    :func:`decontaminate` broadcasts the distinct benchmark grams and
    equi-joins; at some benchmark size the raw gram set stops fitting in
    a broadcast. The standard fix is a Bloom filter: k integer hashes
    over a fixed bitmap, built ONCE from the benchmark side (tiny — here
    8 KiB for 2^16 bits regardless of gram count) and broadcast to every
    corpus partition; membership tests are pure map-side bit math, no
    shuffle of the corpus at all. Spark's own runtime-filter machinery
    (`bloom_filter_agg` / `might_contain`) is not exposed as a public
    SQL function, so the bitmap is built relationally — which also makes
    it ENGINE-EXACT: the DuckDB twin computes the identical bitmap, so
    even the false positives hash-match.

    Output per corpus doc: distinct-gram count, exact contamination
    count (ground truth via the broadcast join), bloom count, and the
    false-positive overshoot. ``n_bloom >= n_exact`` ALWAYS (a Bloom
    filter has no false negatives — every benchmark gram's bits are in
    the map); the unit test pins that invariant and the fp rate.
    """
    from pos_pipeline_core_etl_spark.operators.dedup import shingle_id, shingles_col

    # the corpus leg is CPU-bound per row (shingle explode + md5 per
    # gram); a single-file source must not run it on one task
    docs = ensure_parallelism(docs)

    bench_grams = (
        docs.where(F.col("doc_id") < benchmark_max_id)
        .select(F.explode(shingles_col(F.col(text_col))).alias("gram"))
        .distinct()
    )
    x = shingle_id(F.col("gram"))
    pos_arr = F.array(
        *[(F.lit(a) * x + F.lit(b)) % F.lit(BLOOM_BITS) for a, b in BLOOM_HASHES]
    )
    words = (
        bench_grams.select(F.explode(pos_arr).alias("pos"))
        .select(
            F.expr(f"CAST(pos DIV {BLOOM_WORD} AS BIGINT)").alias("word"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {BLOOM_WORD} AS INT))"
            ).alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("val"))
    )
    dense = (
        spark.range(BLOOM_N_WORDS)
        .select(F.col("id").alias("word"))
        .join(words, "word", "left")
        .select("word", F.coalesce(F.col("val"), F.lit(0).cast("long")).alias("val"))
    )
    bloom = dense.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(word, val))), s -> s.val)"
        ).alias("bloom")
    )

    corpus = docs.where(F.col("doc_id") >= benchmark_max_id).select(
        "doc_id", F.explode(shingles_col(F.col(text_col))).alias("gram")
    ).withColumn("x", shingle_id(F.col("gram")))
    exact = bench_grams.withColumn("hit", F.lit(1))

    def test_sql(a: int, b: int) -> str:
        p = f"(({a} * x + {b}) % {BLOOM_BITS})"
        return (
            f"(element_at(bloom, CAST({p} DIV {BLOOM_WORD} AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST({p} % {BLOOM_WORD} AS INT))) != 0"
        )

    bloom_hit = F.expr(" AND ".join(test_sql(a, b) for a, b in BLOOM_HASHES))
    scored = (
        corpus.join(F.broadcast(exact), "gram", "left")
        .crossJoin(F.broadcast(bloom))
        .select("doc_id", "hit", bloom_hit.alias("bhit"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("hit").alias("n_exact"),
        F.count_if(F.col("bhit")).alias("n_bloom"),
        (F.count_if(F.col("bhit")) - F.count("hit")).alias("n_false_pos"),
    )


def decontaminate_fuzzy(
    docs: DataFrame,
    benchmark_max_id: int = 50,
    text_col: str = "text",
    threshold: float = 0.3,
) -> DataFrame:
    """MinHash-banded NEAR-match benchmark decontamination — catches
    paraphrased / lightly edited contamination that the exact-gram
    variants (:func:`decontaminate`, :func:`decontaminate_bloom`) miss,
    and attributes each hit to the specific benchmark document.

    Pipeline: one MinHash-signature pass over ALL docs (checkpointed —
    both the benchmark and corpus legs consume it), LSH band buckets on
    each side, then a ONE-SIDED broadcast join: corpus band rows probe
    the (benchmark-sized, broadcast) benchmark buckets. Never
    corpus × corpus, and no bucket cap is needed — the benchmark side
    IS the cap (each corpus band row meets at most |benchmark| rows).
    Candidates are verified with exact shingle Jaccard via ONE
    gather-form shingle join (both pair sides live in the same doc_id
    space), then reduced to a per-corpus-doc report: candidate count,
    best-matching benchmark doc (ties: higher Jaccard first, then
    smaller bench_id), and the flag.

    100 TB shape: signature pass is one keyed agg; the candidate join
    broadcasts only benchmark-derived rows; verify touches candidate
    docs only. Corpus docs with no banded candidate never appear — the
    report is contamination-sized, not corpus-sized.
    """
    from pyspark.sql import Window

    from pos_pipeline_core_etl_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures,
        shingles_col,
    )

    docs = ensure_parallelism(docs)
    # two consumers (benchmark + corpus band legs): without a checkpoint
    # the shingle explode + 16 min-aggs run twice (multi-consumer rule)
    sigs = minhash_signatures(docs, text_col).localCheckpoint(eager=False)
    bench_buckets = lsh_band_buckets(
        sigs.where(F.col("doc_id") < benchmark_max_id)
    ).select(F.col("doc_id").alias("bench_id"), "band", "bucket_key")
    corpus_buckets = lsh_band_buckets(
        sigs.where(F.col("doc_id") >= benchmark_max_id)
    )
    cands = (
        corpus_buckets.join(
            F.broadcast(bench_buckets), ["band", "bucket_key"]
        )
        .select("doc_id", "bench_id")
        .distinct()
    )
    # gather-form verify: both sides share the doc_id space, so ONE
    # shingle join covers corpus and benchmark members
    sh = docs.select(
        F.col("doc_id").alias("side_id"),
        shingles_col(F.col(text_col)).alias("sh"),
    )
    sides = cands.select(
        "doc_id",
        "bench_id",
        F.explode(F.array("doc_id", "bench_id")).alias("side_id"),
    )
    gathered = (
        sides.join(sh, "side_id")
        .groupBy("doc_id", "bench_id")
        .agg(
            F.max(
                F.when(F.col("side_id") == F.col("doc_id"), F.col("sh"))
            ).alias("sh_c"),
            F.max(
                F.when(F.col("side_id") == F.col("bench_id"), F.col("sh"))
            ).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_c"), F.col("sh_b")))
    union = F.size("sh_c") + F.size("sh_b") - inter
    scored = gathered.select(
        "doc_id", "bench_id", hround(inter / union, 6).alias("jaccard")
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("jaccard").desc(), F.col("bench_id").asc()
    )
    wc = Window.partitionBy("doc_id")
    return (
        scored.withColumn("n_candidates", F.count(F.lit(1)).over(wc))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            "n_candidates",
            F.col("bench_id").alias("best_bench_id"),
            F.col("jaccard").alias("best_jaccard"),
            (F.col("jaccard") >= F.lit(threshold)).alias("flagged"),
        )
    )


def prep_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """The cheap per-row gate signals of the corpus-prep recipe in ONE
    projection: quality score, predicted language, duplicate-token
    fraction (plus the text itself for the downstream dedup stages).

    The formulas are the SAME as :func:`quality_score` /
    :func:`lang_id` / :func:`repetition_signals` (a drift-guard test
    asserts equality against all three); they are combined here so the
    composed pipeline (plans/llm_ops.py::corpus_prep_decisions) gates
    on all of them in a single shuffle-free pass over the corpus
    instead of three self-joins on doc_id.
    """
    t = tokens_col(F.col(text_col))
    t_lower = tokens_col(F.lower(F.trim(F.col(text_col))))

    # quality (== quality_score)
    n_chars = F.length(text_col)
    n_words = F.size(t)
    n_punct = F.regexp_count(F.col(text_col), F.lit(r"[^\w\s]"))
    n_stop = _count_in_set(t, STOPWORDS)
    punct_ratio = F.when(n_chars == 0, F.lit(0.0)).otherwise(n_punct / n_chars)
    stop_ratio = F.when(n_words == 0, F.lit(0.0)).otherwise(n_stop / n_words)
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 5, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 4, F.lit(1.0)) * 0.3
    )

    # lang_pred (== lang_id)
    langs = sorted(LANG_MARKERS)
    scores = {lang: _count_in_set(t, LANG_MARKERS[lang]) for lang in langs}
    best_score = F.greatest(*[scores[lang] for lang in langs])
    pred: Column | None = None
    for lang in langs:
        cond = scores[lang] == best_score
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    assert pred is not None
    lang_pred = F.when(best_score == 0, F.lit("und")).otherwise(pred)

    # dup_token_frac (== repetition_signals)
    n_tokens = F.size(t_lower)
    n_distinct = F.size(F.array_distinct(t_lower))
    dup_frac = F.when(n_tokens <= 0, F.lit(0.0)).otherwise(
        (n_tokens - n_distinct) / n_tokens
    )

    return docs.select(
        "doc_id",
        F.col(text_col).alias("text"),
        hround(score, 6).alias("quality"),
        lang_pred.alias("lang_pred"),
        hround(dup_frac, 6).alias("dup_token_frac"),
    )


def bigram_logprob(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Bigram-LM quality proxy: per document, the mean negative log
    probability of its adjacent token pairs under the corpus bigram
    distribution with add-one smoothing — one model class up from
    :func:`unigram_logprob` (repetitive low-quality text scores LOW
    surprise under its own corpus bigrams, a signal unigrams miss).

    p(b|a) = (count(a b) + 1) / (count(a ·) + V), V = corpus vocabulary.
    Shape: one pair explode (zip-with-tail, pure JVM), keyed hash-aggs
    for pair and context counts, two equi-joins back on those keys, a
    broadcast of the 1-row V, one per-doc agg — all shuffles keyed,
    nothing quadratic.

    r12 note (measured, guide §1): checkpointing ``pairs`` to avoid the
    3× explode was TRIED and REVERTED — the explode fuses into each
    consumer's partial agg under whole-stage codegen, so recomputing it
    costs less than materializing the exploded rows (profile:
    text_bigram_logprob 1.6 s recompute vs 4.9 s checkpointed).  The
    r12 win here is parallelism: a single-file corpus otherwise runs
    the tokenize+explode on ONE task (see ``ensure_parallelism``).
    """
    docs = ensure_parallelism(docs)
    t = tokens_col(F.lower(F.trim(F.col(text_col))))
    pairs = docs.select(
        "doc_id",
        F.explode(
            F.when(
                F.size(t) >= 2,
                F.zip_with(
                    F.slice(t, 1, F.size(t) - 1),
                    F.slice(t, 2, F.size(t) - 1),
                    lambda a, b: F.struct(
                        a.alias("ctx"), F.concat(a, F.lit(" "), b).alias("pair")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<ctx:string,pair:string>>"))
        ).alias("bg"),
    ).select("doc_id", F.col("bg.ctx").alias("ctx"), F.col("bg.pair").alias("pair"))
    pair_counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("cp"))
    ctx_counts = pairs.groupBy("ctx").agg(F.count(F.lit(1)).alias("cc"))
    vocab = corpus_tokens(docs, text_col).agg(
        F.count_distinct("token").alias("v_vocab")
    )
    scored = (
        pairs.join(pair_counts, "pair")
        .join(ctx_counts, "ctx")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            (-F.log((F.col("cp") + 1.0) / (F.col("cc") + F.col("v_vocab")))).alias(
                "nll"
            ),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        hround(F.avg("nll"), 6).alias("mean_neg_logprob"),
    )


PPL_BUCKETS = 3
PPL_BUCKET_NAMES = ("head", "middle", "tail")


def perplexity_buckets(
    docs: DataFrame, text_col: str = "text", n_buckets: int = PPL_BUCKETS
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): score every document with the corpus bigram LM
    (:func:`bigram_logprob`) and split the corpus into equal-count
    head / middle / tail tertiles of LM surprise — the standard cheap
    quality stratification a training-data pipeline runs before
    sampling (head = lowest surprise = most fluent under the corpus
    model).  Output: (doc_id, mean_neg_logprob, ppl_bucket).

    Determinism contract: the score is hround(6)-ed FIRST, then ntile
    orders by (score, doc_id) — a total order on exact-equal values in
    both engines, so bucket boundaries cannot drift on float ties.
    The ntile window is unpartitioned, which is fine at the
    doc-manifest grain (same contract as docs_quality_pct_rank); at
    100 TB you'd swap it for approx quantile cuts computed in one agg
    and assign buckets by range join — the bucket SEMANTICS stay the
    ones checked here."""
    from pyspark.sql import Window

    scored = bigram_logprob(docs, text_col)
    w = Window.orderBy("mean_neg_logprob", "doc_id")
    tile = F.ntile(n_buckets).over(w)
    names = F.array(*[F.lit(n) for n in PPL_BUCKET_NAMES[:n_buckets]])
    return scored.select(
        "doc_id",
        "mean_neg_logprob",
        F.element_at(names, tile).alias("ppl_bucket"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer TRAINING (Sennrich, Haddow & Birch, "Neural Machine
# Translation of Rare Words with Subword Units", ACL 2016) — the merge
# loop itself, distributed. text_bpe_pairs counts the first iteration's
# candidates; this runs the actual iterative trainer.

BPE_MERGES = 6


def bpe_train(
    docs: DataFrame, text_col: str = "text", merges: int = BPE_MERGES
) -> DataFrame:
    """Learn ``merges`` BPE merge rules over the corpus; returns the
    merge table (merge_rank, pair, merged, n) — the artifact a tokenizer
    ships.

    Scale shape (the standard distributed formulation): token
    frequencies collapse the corpus into a VOCABULARY table once (one
    keyed agg — the only corpus-sized shuffle), each word segmented as
    a space-delimited symbol string with a ``</w>`` end marker. Each
    merge iteration is then one pair-count hash-agg over the vocabulary
    plus a map-side literal string replace — vocabulary-sized, not
    corpus-sized, so iterations cost the same at 100 TB as at 1 GB once
    the vocab is built. The per-iteration ``localCheckpoint`` keeps the
    plan flat (same discipline as connected_components); the winning
    pair is a single collected row per iteration (bounded by
    ``merges``). Symbols are DOUBLE-space delimited with single-space
    string ends, so the literal replace `` a  b `` → `` ab `` consumes
    only its own boundary spaces and adjacent repeated occurrences all
    merge in one left-to-right pass (``a a a a`` → ``aa aa``) — the
    canonical Sennrich ``re.sub`` greedy-pass semantics (ADVICE r5;
    single-space delimiters couldn't match back-to-back occurrences
    because consecutive matches shared the delimiter space). Identical
    semantics in any engine, so the DuckDB oracle reproduces the merge
    table bit-for-bit (ties broken by (count desc, pair asc)).
    """
    spark = docs.sparkSession
    words = (
        docs.select(
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias(
                "w"
            )
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    seg = words.select(
        F.concat(
            F.lit(" "), F.regexp_replace(F.col("w"), "(.)", "$1  "), F.lit("</w> ")
        ).alias("s"),
        "freq",
    ).localCheckpoint(eager=True)

    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, merges + 1):
        arr = F.split(F.trim(F.col("s")), "  ")
        pair_col = F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
        top = (
            seg.select("freq", F.explode(pair_col).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.col("n").desc(), "pair")
            .limit(1)
            .collect()
        )
        if not top:
            break  # every word fully merged — corpus exhausted
        pair, n = top[0]["pair"], int(top[0]["n"])
        merged = pair.replace(" ", "")
        pat = pair.replace(" ", "  ")
        seg = seg.select(
            F.replace(
                F.col("s"), F.lit(f" {pat} "), F.lit(f" {merged} ")
            ).alias("s"),
            "freq",
        ).localCheckpoint(eager=True)
        out.append((rank, pair, merged, n))
    return spark.createDataFrame(
        out, "merge_rank int, pair string, merged string, n long"
    )


BPE_MAX_VOCAB = 5_000_000  # driver-side trainer guard (bounded-collect contract)


def bpe_train_fast(
    docs: DataFrame,
    text_col: str = "text",
    merges: int = BPE_MERGES,
    max_vocab: int = BPE_MAX_VOCAB,
) -> DataFrame:
    """Driver-side BPE trainer with incremental pair-delta counting —
    the 32K-merge-scale twin of :func:`bpe_train` (VERDICT r5 #4).

    :func:`bpe_train` launches one vocabulary-sized Spark job per merge;
    at a production vocabulary (32K merges) that is 32K sequential jobs
    whose driver/scheduler floor (~0.1 s each) dominates. The standard
    answer — what every production tokenizer trainer does — is to
    collapse the corpus to the (word, freq) VOCABULARY with one
    corpus-sized Spark agg (the only part that sees 100 TB), collect
    that bounded table (guarded by ``max_vocab``; real-corpus
    vocabularies are 10⁵–10⁷ rows ≪ corpus size), and run the merge
    loop in memory with incremental pair statistics: each merge
    re-counts only the words that CONTAIN the merged pair (indexed,
    delta update), not the whole vocabulary — the subword-nmt
    ``update_pair_statistics`` optimization. Output is identical to
    :func:`bpe_train` (pinned by test and by sharing the registry
    oracle); per-merge cost is O(words containing the pair), so 32K
    merges take seconds, not hours.
    """
    from pos_pipeline_core_etl_spark.operators.common import release_checkpoint

    spark = docs.sparkSession
    # checkpoint the vocabulary agg so the guard count and the collect
    # read ONE materialization — the pre-r13 form ran the corpus-sized
    # explode+agg TWICE (count job + collect job), guide §1.2 "don't
    # compute things you throw away"; blocks are freed after the collect
    words = (
        docs.select(
            F.explode(tokens_col(F.lower(F.col(text_col)))).alias(
                "w"
            )
        )
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .localCheckpoint(eager=True)
    )
    n_vocab = words.count()
    if n_vocab > max_vocab:
        release_checkpoint(words)
        raise ValueError(
            f"vocabulary has {n_vocab} words > max_vocab={max_vocab}; "
            "raise the cap or pre-truncate the long tail"
        )
    vocab = [(tuple(r["w"]) + ("</w>",), int(r["freq"])) for r in words.collect()]
    release_checkpoint(words)
    out = _bpe_merge_loop_inmem(vocab, merges)
    return spark.createDataFrame(
        out, "merge_rank int, pair string, merged string, n long"
    )


def _bpe_merge_loop_inmem(
    vocab: list[tuple[tuple[str, ...], int]], merges: int
) -> list[tuple[int, str, str, int]]:
    """The in-memory merge loop with delta-maintained pair statistics.

    ``stats[pair]`` is the corpus-weighted count of adjacent
    occurrences; ``where[pair]`` indexes which vocab entries contain
    it. A merge touches only the indexed entries: their old pair
    contributions are subtracted, the pair is merged left-to-right
    greedily (the canonical single-pass semantics, matching
    :func:`bpe_train`'s double-space literal replace), and the new
    contributions added back.
    """
    from collections import Counter, defaultdict

    syms: list[list[str]] = [list(w) for w, _f in vocab]
    freqs: list[int] = [f for _w, f in vocab]
    stats: Counter[tuple[str, str]] = Counter()
    where: defaultdict[tuple[str, str], set[int]] = defaultdict(set)
    for i, (w, f) in enumerate(zip(syms, freqs)):
        for a, b in zip(w, w[1:]):
            stats[(a, b)] += f
            where[(a, b)].add(i)

    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, merges + 1):
        live = [(p, n) for p, n in stats.items() if n > 0]
        if not live:
            break
        # (count desc, pair asc) — the distributed trainer's tie-break
        best, n = min(live, key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))
        merged = best[0] + best[1]
        out.append((rank, f"{best[0]} {best[1]}", merged, n))
        for i in sorted(where.pop(best, ())):
            w, f = syms[i], freqs[i]
            if f == 0:
                continue
            for a, b in zip(w, w[1:]):
                stats[(a, b)] -= f
                if stats[(a, b)] <= 0:
                    del stats[(a, b)]
            new: list[str] = []
            j = 0
            while j < len(w):  # greedy left-to-right single pass
                if j + 1 < len(w) and (w[j], w[j + 1]) == best:
                    new.append(merged)
                    j += 2
                else:
                    new.append(w[j])
                    j += 1
            syms[i] = new
            for a, b in zip(new, new[1:]):
                stats[(a, b)] += f
                where[(a, b)].add(i)
    return out


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]] | None = None,
    text_col: str = "text",
    n_merges: int = BPE_MERGES,
) -> DataFrame:
    """Tokenize the corpus with a learned BPE merge table → per-doc
    subword statistics (doc_id, n_chars_seg, n_bpe_tokens,
    compression): the apply side of :func:`bpe_train`, i.e. what the
    tokenizer does to every document at training-data-prep time.

    ``merges`` is the ordered (pair, merged) list; when None it is
    learned from the SAME corpus via :func:`bpe_train` (end-to-end
    train→apply). Application is a chain of ``n_merges`` map-side
    literal replaces over the segmentation — zero shuffles beyond the
    per-doc projection, because a learned pair can never span a word
    boundary (pairs are learned inside ``</w>``-terminated words, so
    no pair starts with the end marker). Same double-space delimiter
    scheme as :func:`bpe_train` (ADVICE r5): the replace consumes only
    its own boundary spaces, so back-to-back occurrences of the pair
    inside one word all merge in a single left-to-right pass —
    canonical Sennrich ``re.sub`` semantics.
    """
    if merges is None:
        merges = [
            (r["pair"], r["merged"])
            for r in bpe_train(docs, text_col, merges=n_merges).collect()
        ]
    words = tokens_col(F.lower(F.col(text_col)))
    seg = F.array_join(
        F.transform(
            words,
            lambda w: F.concat(
                F.lit(" "), F.regexp_replace(w, "(.)", "$1  "), F.lit("</w> ")
            ),
        ),
        "",
    )
    for pair, merged in merges:
        pat = pair.replace(" ", "  ")
        seg = F.replace(seg, F.lit(f" {pat} "), F.lit(f" {merged} "))
    toks = F.split(F.trim(seg), " +")
    n_tokens = F.size(toks)
    n_chars = F.length(F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", ""))
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_seg"),
        n_tokens.cast("long").alias("n_bpe_tokens"),
        hround(n_chars / n_tokens, 6).alias("chars_per_token"),
    )
