"""Deduplication operators for training-data pipelines.

Four families, each scale-designed and each with an exact integer-
arithmetic formulation so the DuckDB oracle reproduces results
bit-for-bit:

- **exact**: hash-groupBy on the document fingerprint (one shuffle on
  the md5 key; at 100 TB this is the cheapest possible dedup).
- **MinHash + LSH**: shingle → k minhashes → band buckets → candidate
  pairs only within equal band keys → exact Jaccard verify. The
  candidate join shuffles on the (band, key) pair, never on doc × doc;
  signatures are 64-bit modular arithmetic over md5-derived shingle ids
  (engine-independent, no floats).
- **SimHash**: per-bit signed token-hash sums → compact int signature;
  near-dup = small Hamming distance.
- **n-gram Jaccard**: exact pairwise similarity, for verification and
  small candidate sets (the LSH path generates candidates at scale).
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.operators.common import (
    converge,
    ensure_parallelism,
    release_checkpoint,
)
from pos_pipeline_core_etl_spark.operators.text import tokens_col

# Default MinHash parameters: k hash functions in b bands × r rows (k = b*r).
# Sensitivity (standard LSH S-curve): a pair with Jaccard s collides with
# probability 1 − (1 − s^r)^b; the threshold sits near (1/b)^(1/r). The
# defaults (4 bands × 4 rows → t ≈ 0.71) suit near-dup detection on the
# sf-scale fixtures; for billion-doc corpora raise k (e.g. 128 = 16×8,
# t ≈ 0.71 with far fewer false positives) — every function below takes
# (k, bands, rows) so the driver can tune without code changes.
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
HASH_MOD = 4294967311  # prime > 2^32 so (a*x+b) wraps and hash funcs decorrelate
SHINGLE_SIZE = 3
# Per-bucket pair expansion is O(bucket²); one hot bucket (e.g. an
# all-identical corpus that skipped exact dedup) would quadratic-explode a
# single task's memory. Buckets above this cap are EXCLUDED from pair
# expansion — query the skipped population via :func:`minhash_lsh_overflow`.
# The SQL oracle applies the same constant, so capped results stay exact.
LSH_MAX_BUCKET = 1000


def _hash_params(k: int = MINHASH_K) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for h_i(x) = (a·x + b) mod p.

    Derived from fixed odd multipliers — no RNG, so Spark and the SQL
    oracle share them via code generation.
    """
    return [(2 * i + 1, 7919 * (i + 1)) for i in range(k)]


def shingles_col(text: Column, n: int = SHINGLE_SIZE) -> Column:
    """Distinct word n-gram shingles of the lowercased text."""
    t = tokens_col(F.lower(text))
    idx = F.sequence(F.lit(0), F.size(t) - n)
    grams = F.transform(
        idx,
        lambda i: F.array_join(F.slice(t, i + 1, n), " "),
    )
    return F.array_distinct(
        F.when(F.size(t) >= n, grams).otherwise(F.array(F.array_join(t, " ")))
    )


def shingles_sql(text_sql: str, n: int = SHINGLE_SIZE) -> str:
    """DuckDB twin of :func:`shingles_col` (1-based list indexing).

    The token array is bound to ``t`` via a single-element
    ``list_transform`` so the expression stays self-contained (usable
    inline without a FROM-clause alias).
    """
    toks = f"regexp_split_to_array(trim(lower({text_sql})), '\\s+')"
    gram = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    inner = (
        f"list_distinct(CASE WHEN len(t) >= {n} THEN "
        f"list_transform(generate_series(1, len(t) - {n - 1}), i -> {gram}) "
        f"ELSE [array_to_string(t, ' ')] END)"
    )
    return f"list_transform([{toks}], t -> {inner})[1]"


def shingle_id(sh: Column) -> Column:
    """Stable 32-bit integer id of a shingle: first 8 hex chars of md5."""
    return F.conv(F.substring(F.md5(sh), 1, 8), 16, 10).cast("long")


SHINGLE_ID_SQL = "CAST(('0x' || substr(md5({s}), 1, 8)) AS BIGINT)"


def exact_survivors(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-first staging, shared by every ``*_staged`` near-dup query:
    fingerprint dedup keeps the min doc_id per byte-identical group and
    returns the surviving rows (full columns). ONE definition so the
    staged SimHash / containment / sparse-cosine paths can never
    diverge in survivor selection."""
    from pos_pipeline_core_etl_spark.operators.text import fingerprint

    fp = fingerprint(docs, text_col=text_col).select("doc_id", "fp")
    canon = fp.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    return docs.join(canon.select("doc_id"), "doc_id")


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Hash-groupBy exact dedup: canonical id + member count per content
    fingerprint. One shuffle on the hash key."""
    from pos_pipeline_core_etl_spark.operators.text import fingerprint

    fp = fingerprint(docs, text_col)
    return fp.groupBy("fp").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", k: int = MINHASH_K
) -> DataFrame:
    """doc_id → k minhash values (exploded-shingle groupBy, k min-aggs)."""
    docs = ensure_parallelism(docs)
    exploded = docs.select(
        "doc_id", F.explode(shingles_col(F.col(text_col))).alias("sh")
    ).withColumn("x", shingle_id(F.col("sh")))
    # F.expr, not hand-built Column trees: k=128 min-aggs at ~6 py4j
    # round-trips each cost ~0.4 s of driver-side plan construction per
    # invocation; the parsed SQL form is one call per agg and compiles
    # to the identical long-arithmetic plan (L suffixes keep every
    # literal a BIGINT, matching F.lit's int widening).
    aggs = [
        F.expr(f"MIN(({a}L * x + {b}L) % {HASH_MOD}L)").alias(f"mh_{i}")
        for i, (a, b) in enumerate(_hash_params(k))
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def lsh_band_buckets(
    sigs: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS
) -> DataFrame:
    """Signature → (band, bucket_key) rows; equal keys = candidate pair.

    One explode over a literal band array — a b-way union would
    re-evaluate the signature aggregation once per band (and the
    downstream self-join doubles that again). The whole band array is
    ONE parsed F.expr (single py4j call) rather than per-band Column
    assembly — same plan, less driver latency."""
    structs = []
    for band in range(bands):
        cols = [f"mh_{band * rows + r}" for r in range(rows)]
        key = f"md5(concat_ws('_', {', '.join(f'CAST({c} AS STRING)' for c in cols)}))"
        structs.append(f"named_struct('band', {band}, 'bucket_key', {key})")
    bk = F.expr(f"array({', '.join(structs)})")
    return sigs.select(
        "doc_id", F.explode(bk).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bucket_key").alias("bucket_key"))


def upper_triangle_pairs(ids_col: str = "ids", build=None) -> Column:
    """In-bucket upper-triangle pair expansion over a SORTED id array —
    the ONE candidate-generation expression shared by every
    capped-bucket family (MinHash bands, SimHash bands, containment
    postings, winnowing fingerprints, fuzzy deletion variants).
    ``build(x, y)`` constructs each pair struct; the default emits
    (doc_a, doc_b)."""
    if build is None:
        build = lambda x, y: F.struct(  # noqa: E731
            x.alias("doc_a"), y.alias("doc_b")
        )
    return F.flatten(
        F.transform(
            F.col(ids_col),
            lambda x, i: F.transform(
                F.slice(F.col(ids_col), i + 2, F.size(F.col(ids_col))),
                lambda y: build(x, y),
            ),
        )
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    Pairs are expanded INSIDE each bucket (groupBy band+key →
    sorted id list → upper-triangle pairs) rather than via a bucket
    self-join: the expensive signature stage is scanned once with no
    persist, and the whole pipeline is two shuffles (bucket groupBy +
    pair distinct) instead of three plus a cache. Per-bucket memory is
    O(bucket size) — LSH buckets are small by construction, and buckets
    above ``max_bucket_size`` (a degenerate corpus that skipped exact
    dedup) are excluded instead of quadratic-exploding a task; count the
    skipped population with :func:`minhash_lsh_overflow`. Pass ``None``
    to disable the guard."""
    buckets = lsh_band_buckets(
        minhash_signatures(docs, text_col, k=bands * rows), bands=bands, rows=rows
    )
    keep = F.size("ids") > 1
    if max_bucket_size is not None:
        keep = keep & (F.size("ids") <= max_bucket_size)
    grouped = (
        buckets.groupBy("band", "bucket_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(keep)
    )
    pair_structs = upper_triangle_pairs()
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def minhash_lsh_overflow(
    docs: DataFrame,
    text_col: str = "text",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Buckets the candidate stage skipped: (band, bucket_key, n_docs)
    for every bucket over ``max_bucket_size``. Empty on healthy corpora;
    non-empty means run exact dedup first (or raise the cap)."""
    buckets = lsh_band_buckets(
        minhash_signatures(docs, text_col, k=bands * rows), bands=bands, rows=rows
    )
    return (
        buckets.groupBy("band", "bucket_key")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


def minhash_lsh_verified(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """The full scale-grade dedup pipeline in one plan: LSH candidate
    generation (bucketed, capped) followed by the exact n-gram Jaccard
    VERIFY stage on candidates only — never all pairs. Cost: the two
    candidate-stage shuffles plus two doc-id equi-joins to fetch shingle
    sets; the quadratic leg is gone entirely."""
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    cands = minhash_lsh_candidates(
        docs, text_col, bands=bands, rows=rows, max_bucket_size=max_bucket_size
    )
    # Gather form: union the two pair sides and join the shingle frame
    # ONCE (a two-join formulation computes the expensive shingle
    # projection once per side — expression-id remapping defeats
    # exchange reuse), then reassemble each pair with conditional max
    # (exactly one non-null side per row, so the pick is deterministic).
    # ensure_parallelism here too, not just in the signature stage: a
    # single-file corpus otherwise shingles on ONE task for the verify
    # leg (measured 3.3 s of the pipeline's 4.4 s at sf0.1 — the r3
    # bench tail was this, not AQE scheduling)
    sh = ensure_parallelism(docs).select(
        "doc_id", shingles_col(F.col(text_col)).alias("sh")
    )
    # explode, not union: a union would consume cands twice and recompute
    # the whole LSH candidate pipeline per branch
    sides = cands.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    gathered = (
        sides.join(sh, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(F.when(F.col("doc_id") == F.col("doc_a"), F.col("sh"))).alias("sh_a"),
            F.max(F.when(F.col("doc_id") == F.col("doc_b"), F.col("sh"))).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return gathered.select(
        "doc_a",
        "doc_b",
        hround(inter / union, 6).alias("jaccard"),
    ).where(F.col("jaccard") >= threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
    max_doc_id: int | None = None,
) -> DataFrame:
    """Exact pairwise n-gram Jaccard over a bounded doc subset.

    The all-pairs form is O(n²) by construction — at scale the LSH path
    supplies candidates and this computes the verify step only.
    """
    base = docs
    if max_doc_id is not None:
        base = base.where(F.col("doc_id") < max_doc_id)
    sh = base.select("doc_id", shingles_col(F.col(text_col)).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter / union
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hround(jac, 6).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# Containment candidate generation: deterministic shingle sample rate
# (keep sid % MOD == 0) and a posting-list cap — the stop-shingle guard,
# same discipline + observability contract as LSH_MAX_BUCKET.
CONTAIN_SAMPLE_MOD = 4
CONTAIN_MAX_BUCKET = 200
CONTAIN_THRESHOLD = 0.6


def _sampled_postings(
    docs: DataFrame, text_col: str, sample_mod: int
) -> tuple[DataFrame, DataFrame]:
    """(hashed shingle-set frame, sampled (doc_id, sid) posting rows).

    Shingles are hashed ONCE to the repo's 60-bit signed-BIGINT ids
    (:func:`window_id`): the verify stage then intersects long arrays
    instead of 3-gram strings — measured 2× on the whole pipeline at
    sf0.1 — and the sampled posting ids come from the same values.
    Set semantics are unchanged up to a ~2⁻⁶⁰ collision (none on any
    fixture; the recall audit recomputes both sides every round)."""
    base = ensure_parallelism(docs)
    sh = base.select(
        "doc_id",
        F.transform(shingles_col(F.col(text_col)), window_id).alias("sh"),
    ).localCheckpoint(eager=False)  # feeds candidates AND the verify gather
    posts = sh.select("doc_id", F.explode("sh").alias("sid")).where(
        F.col("sid") % sample_mod == 0
    )
    return sh, posts


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = CONTAIN_THRESHOLD,
    sample_mod: int = CONTAIN_SAMPLE_MOD,
    max_bucket_size: int | None = CONTAIN_MAX_BUCKET,
    min_shared: int = 1,
) -> DataFrame:
    """Asymmetric (doc-in-doc) near-dup pairs via Broder containment
    C(A,B) = |A∩B| / min(|A|,|B|).

    Jaccard-targeted MinHash-LSH structurally MISSES a short document
    embedded in a long one — the union term crushes the similarity
    below any usable band threshold (pinned by test). The candidate
    generator here is therefore a sampled-shingle INVERTED INDEX:
    keep shingles whose md5-derived id lands in one deterministic
    residue class (rate 1/sample_mod — a contained doc with s shingles
    shares ~s/sample_mod sampled shingles with its container, so any
    non-trivial overlap surfaces), cap each posting list at
    ``max_bucket_size`` (stop-shingle guard; audit the skipped
    population with :func:`containment_overflow`), expand pairs inside
    the bucket exactly like :func:`minhash_lsh_candidates`, then verify
    exact containment on candidates only via the shared gather form —
    never doc × doc. 100 TB shape: two candidate shuffles (posting
    groupBy + pair count) + one doc-id equi-join; everything else is
    map-side.

    ``min_shared`` (default 1) is the precision/cost knob: require a
    candidate pair to share that many SAMPLED shingles before paying
    the exact verify. At 2 the sf0.1 verify drops 138K → 3K candidates
    (0.8 s vs 2.8 s) but loses 6/188 true pairs whose intersection
    kept only one sampled shingle — the default stays 1 (candidate
    completeness over cost), and the standing recall audit
    re-measures the choice every round.
    """
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    sh, posts = _sampled_postings(docs, text_col, sample_mod)
    keep = F.size("ids") > 1
    if max_bucket_size is not None:
        keep = keep & (F.size("ids") <= max_bucket_size)
    grouped = (
        posts.groupBy("sid")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .where(keep)
    )
    pair_structs = upper_triangle_pairs()
    cands = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select("doc_a", "doc_b")
    )
    sides = cands.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    gathered = (
        sides.join(sh, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(F.when(F.col("doc_id") == F.col("doc_a"), F.col("sh"))).alias("sh_a"),
            F.max(F.when(F.col("doc_id") == F.col("doc_b"), F.col("sh"))).alias("sh_b"),
        )
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    contain = inter / F.least(F.size("sh_a"), F.size("sh_b"))
    return (
        gathered.select(
            "doc_a",
            "doc_b",
            hround(contain, 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


def containment_all_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = CONTAIN_THRESHOLD,
    max_doc_id: int | None = None,
) -> DataFrame:
    """Exact pairwise containment over a bounded doc subset — the
    ground-truth twin of :func:`containment_pairs` (O(n²) by
    construction; the audit/verify stage, never the scale path)."""
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    base = docs
    if max_doc_id is not None:
        base = base.where(F.col("doc_id") < max_doc_id)
    sh = base.select("doc_id", shingles_col(F.col(text_col)).alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    contain = inter / F.least(F.size(F.col("a.sh")), F.size(F.col("b.sh")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hround(contain, 6).alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )


SPARSE_MAX_DF = 200
SPARSE_IDF2_QUANT = 1 << 20
SPARSE_COS_THRESHOLD = 0.5


def sparse_cosine_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = SPARSE_COS_THRESHOLD,
    max_df: int = SPARSE_MAX_DF,
    quant: int = SPARSE_IDF2_QUANT,
) -> DataFrame:
    """IDF-weighted shingle cosine near-dup pairs — the SPARSE
    similarity primitive (term-at-a-time inverted index), complementing
    the dense-embedding ANN stack.

    Each doc is the set of its distinct 3-gram shingles weighted by
    smooth idf = ln((N+1)/(df+1)); cosine is then
    Σ_shared idf² / (‖a‖·‖b‖). Rare shingles dominate, so boilerplate
    overlap scores near zero while genuine near-dups score ~1 — unlike
    unweighted Jaccard. Scale shape: one df agg, postings self-join
    PARTITIONED BY GRAM with a df cap (a gram in more than ``max_df``
    docs is a stop-gram: negligible idf weight, quadratic posting
    cost — excluded), one keyed pair agg. Never doc × doc.

    Determinism: idf² is integer-quantized (floor(idf²·Q + 0.5)) so
    per-doc norms and per-pair dot products are exact integer sums
    (order-free); the final division uses doubles built from those
    exact integers identically in both engines.
    """
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    base = ensure_parallelism(docs)
    # r12 (guide §2.3 — shuffle keys, not payloads): grams are hashed
    # ONCE to the repo's 60-bit signed-BIGINT ids (window_id) straight
    # out of the explode, so the df count, the posting checkpoint, and
    # the term-at-a-time self-join all key on an 8-byte long instead of
    # a ~20-char word-3-gram string — fewer shuffle bytes and a fixed-
    # width join key on the quadratic-ish leg.  Set semantics unchanged
    # up to a ~2⁻⁶⁰ collision (the _sampled_postings contract; none on
    # any fixture — every pair's cosine is oracle-checked).  Measured:
    # dedup_sparse_cosine_staged 3.9 -> 2.2 s at sf0.1.
    grams = base.select(
        "doc_id",
        F.explode(
            F.transform(shingles_col(F.col(text_col)), window_id)
        ).alias("sid"),
    )
    df = grams.groupBy("sid").agg(F.count_distinct("doc_id").alias("df"))
    n = docs.select(F.count(F.lit(1)).alias("n_corpus"))
    qf = float(quant)
    idf = F.log((F.col("n_corpus") + 1.0) / (F.col("df") + 1.0))
    posts = (
        grams.join(df.where(F.col("df") <= max_df), "sid")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "sid",
            F.floor(idf * idf * F.lit(qf) + F.lit(0.5))
            .cast("long")
            .alias("w2q"),
        )
        .localCheckpoint(eager=False)  # feeds norms AND the pair join
    )
    norms = posts.groupBy("doc_id").agg(F.sum("w2q").alias("norm2q"))
    a = posts.alias("a")
    b = posts.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.sum("a.w2q").alias("dotq"))
    )
    joined = (
        pairs.join(norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2q").alias("na")), "doc_a")
        .join(norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2q").alias("nb")), "doc_b")
    )
    cos = F.col("dotq") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return joined.select(
        "doc_a", "doc_b", hround(cos, 6).alias("cosine")
    ).where(F.col("cosine") >= threshold)


def containment_overflow(
    docs: DataFrame,
    text_col: str = "text",
    sample_mod: int = CONTAIN_SAMPLE_MOD,
    max_bucket_size: int = CONTAIN_MAX_BUCKET,
) -> DataFrame:
    """Posting lists the candidate stage skipped: (sid, n_docs) for
    every sampled shingle shared by more than ``max_bucket_size`` docs.
    Empty on healthy corpora; non-empty quantifies boilerplate
    stop-shingles whose pairs the index refuses to expand."""
    _sh, posts = _sampled_postings(docs, text_col, sample_mod)
    return (
        posts.groupBy("sid")
        .agg(F.count_distinct(F.col("doc_id")).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


# ---------------------------------------------------------------------------
# SimHash

# Default SimHash width: 60 bits, the repo's signed-BIGINT-safe
# production width (4 bands × 15 bits at max_hamming=3, so band values
# stay selective as the corpus grows).  PERFORMANCE.md measured the old
# 16/32-bit defaults collapsing template-heavy corpora into 301K-pair
# mega-cliques — narrow widths remain available as an explicit ``bits``
# knob (the overflow-audit query uses 16 deliberately to exercise the
# degenerate mode), but the default is the width you would ship.
SIMHASH_BITS = 60


def simhash(docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS) -> DataFrame:
    """``bits``-wide SimHash over distinct lowercase tokens (pure integer
    math); the token hash is 8 hex chars (32 bits) up to 32-bit
    signatures and 15 hex chars (60 bits, the repo's signed-BIGINT-safe
    width) above, so bits ≤ 60."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    hexw = 8 if bits <= 32 else 15
    tokens = ensure_parallelism(docs).select(
        "doc_id",
        F.explode(
            F.array_distinct(tokens_col(F.lower(F.col(text_col))))
        ).alias("tok"),
    ).withColumn("h", F.conv(F.substring(F.md5(F.col("tok")), 1, hexw), 16, 10).cast("long"))
    # F.expr, not hand-built Column trees (the minhash_signatures rule):
    # 60 per-bit aggs plus a 60-term signature sum assembled via py4j
    # cost ~0.5 s of DRIVER-side plan construction per invocation; the
    # parsed SQL forms compile to the identical plans in one call each.
    #
    # r12 (guide §1.2 per-task work): the per-bit aggregate is the
    # BRANCH-FREE set-bit count c_j = SUM((h >> j) & 1) plus ONE shared
    # token count m, instead of 60 SUM(CASE ... 1 ELSE -1) branches per
    # token.  The old ±1 sum is s_j = c_j - (m - c_j) = 2·c_j - m, so
    # the sign test s_j > 0 is exactly 2·c_j > m — integer arithmetic,
    # bit-identical signatures (oracle-checked on every simhash query).
    bit_sums = [
        F.expr(f"SUM((h >> {j}) & 1)").alias(f"c_{j}") for j in range(bits)
    ]
    agg = tokens.groupBy("doc_id").agg(
        F.expr("COUNT(1)").alias("m"), *bit_sums
    )
    sig_sql = " + ".join(
        f"CASE WHEN 2 * c_{j} > m THEN {1 << j}L ELSE 0L END"
        for j in range(bits)
    )
    return agg.select(
        "doc_id", F.expr(f"CAST({sig_sql} AS BIGINT)").alias("simhash")
    )


def simhash_near_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    max_doc_id: int | None = None,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """All-pairs SimHash Hamming join — the bounded VERIFY twin.

    O(n²) by construction (broadcast-nested-loop under a `<` join
    condition); callers bound the subset via ``max_doc_id``. The scale
    path is :func:`simhash_banded_pairs`, which generates candidates by
    pigeonhole banding and is exactly equivalent whenever no band
    bucket exceeds the cap."""
    sigs = simhash(docs, text_col, bits=bits)
    if max_doc_id is not None:
        sigs = sigs.where(F.col("doc_id") < max_doc_id)
    a = sigs.alias("a")
    b = sigs.alias("b")
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_band_widths(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) per pigeonhole band: ``max_hamming + 1`` contiguous
    bit ranges whose widths differ by at most one. Shared by the Spark
    operator and the SQL-oracle generator so both engines band
    identically."""
    n_bands = max_hamming + 1
    if bits < n_bands:
        raise ValueError(f"need bits >= max_hamming + 1 ({n_bands}), got {bits}")
    base, rem = divmod(bits, n_bands)
    out, shift = [], 0
    for b in range(n_bands):
        width = base + (1 if b < rem else 0)
        out.append((shift, width))
        shift += width
    return out


def simhash_banded_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """Scale-grade SimHash near-pair generation via pigeonhole banding.

    The signature's ``bits`` bits split into ``max_hamming + 1``
    contiguous bands; two signatures within Hamming distance
    ``max_hamming`` differ in at most ``max_hamming`` bits, so at least
    one band is IDENTICAL (pigeonhole) — candidates are docs sharing
    any (band, band_value) key, found by a keyed groupBy exactly like
    :func:`minhash_lsh_candidates`, never a doc × doc join. Verify
    computes ``bit_count(xor)`` on candidates only (gather form — one
    signature join).

    Equivalence contract: identical results to
    :func:`simhash_near_pairs` whenever no bucket exceeds
    ``max_bucket_size`` (buckets above the cap are excluded from pair
    expansion, same discipline and constant as the MinHash path; a
    degenerate corpus that skipped exact dedup should run that first).
    The token hash widens automatically with ``bits`` (8 hex chars up
    to 32 bits, 15 above); keep ``bits`` large enough that band values
    stay selective: buckets per band ≈ 2^(bits/(h+1)).
    """
    sigs = simhash(docs, text_col, bits=bits)
    return banded_hamming_pairs(
        sigs, "simhash", max_hamming=max_hamming, bits=bits,
        max_bucket_size=max_bucket_size,
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    sig_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
    id_col: str = "doc_id",
) -> DataFrame:
    """Generic pigeonhole-banded Hamming near-pair generator over ANY
    integer signature column (SimHash, perceptual image dHash, …):
    (id_col, sig_col) → (doc_a, doc_b, hamming ≤ max_hamming). The
    engine of :func:`simhash_banded_pairs`, factored so every
    fixed-width-signature family shares one implementation. Masking
    after the (arithmetic) shiftright makes banding correct for
    signed-reinterpreted 64-bit hashes too.
    """
    # two consumers (bucket leg + verify gather join): without a
    # checkpoint the whole upstream - token explode + bits-wide
    # signature agg for SimHash, the PYTHON IMAGE CODEC for dHash -
    # executes twice (the multi-consumer rule, PERFORMANCE.md)
    sigs = sigs.select(
        F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig")
    ).localCheckpoint(eager=False)
    structs = [
        f"named_struct('band', {b}, "
        f"'val', shiftright(sig, {shift}) & {(1 << width) - 1}L)"
        for b, (shift, width) in enumerate(simhash_band_widths(bits, max_hamming))
    ]
    buckets = sigs.select(
        "doc_id", F.explode(F.expr(f"array({', '.join(structs)})")).alias("bv")
    ).select("doc_id", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))

    keep = F.size("ids") > 1
    if max_bucket_size is not None:
        keep = keep & (F.size("ids") <= max_bucket_size)
    grouped = (
        buckets.groupBy("band", "val")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(keep)
    )
    pair_structs = upper_triangle_pairs()
    cands = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # gather form: ONE signature join for both pair sides
    sides = cands.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    )
    gathered = (
        sides.join(sigs, "doc_id")
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(
                F.when(F.col("doc_id") == F.col("doc_a"), F.col("sig"))
            ).alias("sig_a"),
            F.max(
                F.when(F.col("doc_id") == F.col("doc_b"), F.col("sig"))
            ).alias("sig_b"),
        )
    )
    dist = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return gathered.select("doc_a", "doc_b", dist.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )


def banded_hamming_overflow(
    sigs: DataFrame,
    sig_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_bucket_size: int = LSH_MAX_BUCKET,
    id_col: str = "doc_id",
) -> DataFrame:
    """Buckets the banded-Hamming candidate stage SKIPPED: (band, val,
    n_docs) for every pigeonhole bucket over ``max_bucket_size`` — the
    observability twin of :func:`minhash_lsh_overflow` for the
    SimHash/dHash family (ADVICE r5: at narrow signatures a large
    corpus can overflow EVERY bucket, silently collapsing recall to
    zero; this report is how a run detects that).  Empty on healthy
    corpora; non-empty means stage exact dedup first, widen ``bits``
    (buckets per band ≈ 2^(bits/(max_hamming+1)), so band values stop
    being selective once the corpus outgrows them), or raise the cap.
    """
    sigs = sigs.select(F.col(id_col).alias("doc_id"), F.col(sig_col).alias("sig"))
    structs = [
        f"named_struct('band', {b}, "
        f"'val', shiftright(sig, {shift}) & {(1 << width) - 1}L)"
        for b, (shift, width) in enumerate(simhash_band_widths(bits, max_hamming))
    ]
    buckets = sigs.select(
        "doc_id", F.explode(F.expr(f"array({', '.join(structs)})")).alias("bv")
    ).select(F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    return (
        buckets.groupBy("band", "val")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") > max_bucket_size)
    )


def simhash_banded_overflow(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """:func:`banded_hamming_overflow` over the corpus's SimHash
    signatures — the standing health check to run alongside
    :func:`simhash_banded_pairs` (same signatures, one extra keyed
    agg)."""
    return banded_hamming_overflow(
        simhash(docs, text_col, bits=bits),
        "simhash",
        max_hamming=max_hamming,
        bits=bits,
        max_bucket_size=max_bucket_size,
    )


# ---------------------------------------------------------------------------
# transitive-closure survivorship (connected components)


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iters: int = 48,
) -> DataFrame:
    """Connected components of an undirected candidate-pair edge list by
    iterative min-label propagation → (id, component_id).

    The scale-grade alternative to single-pass keep-min-id survivorship
    (VERDICT r1 item 7): every vertex converges to the smallest id in its
    component, so chains a–b–c collapse into ONE cluster even when (a, c)
    was never a candidate pair.

    Scale shape: each iteration is one hash-shuffle join on the edge key
    plus a min-agg, followed by a POINTER-HALVING shortcut — label(v) ←
    label(label(v)), one node-sized self-join — so convergence needs
    O(log diameter) rounds, not O(diameter).  The shortcut is the round-9
    fix for a failure the ladder surfaced, not a hypothetical: sorted-
    neighborhood blocking over 1.5M clustered keys produces LEGITIMATE
    lev-≤2 chains whose components have diameter > 20, and the one-hop
    form hit its round cap and raised (LADDER_r9, SELFREVIEW_r9 #9).
    The shortcut preserves the fixpoint exactly — labels are min-monotone
    with label(u) <= u, so label(label(v)) <= label(v) and the limit is
    still the component min — which keeps every downstream oracle
    byte-identical.

    ``max_iters`` is a FAILURE BACKSTOP, not a tuning knob: the loop
    exits on the convergence probe, so rounds past the fixpoint never
    run and a generous cap costs nothing.  It was 20 through round 9;
    the round-10 ladder raised the cap-binding failure one notch up
    (4.5M sorted-neighborhood-chained keys: halving needs ~log2(
    diameter) ≈ 22+ rounds there, and 20 raised the loud error below —
    LADDER_r10, the r9 story repeating one decade later).  48 covers
    any diameter below 2^48, i.e. any graph that can physically exist
    in storage.

    Memory shape (round 11, VERDICT r10 #3 — the 15M-key ER resolve
    OOM'd in THESE rounds at 64g over a 238M-pair graph):

    - The edge list is checkpointed ONCE, oriented (half the
      symmetrized footprint); each round's join re-exchanges its lazily
      symmetrized view, because a checkpoint forgets its partitioning.
      A hash-partitioned symmetrized edge cache was measured slower
      below ~10⁶ edges (sf0.1: 1.5 s → 2.7 s warm) and was removed.
    - Label checkpoints store **serialized** (PySpark's MEMORY_AND_DISK
      constant is the serialized level; the default localCheckpoint
      level is the DESER variant).
    - Rounds run under :func:`~operators.common.converge`, which frees
      every superseded label checkpoint as soon as the next iterate
      has materialized — the pre-r11 form leaked every round's blocks,
      which at ~24 halving rounds × node-sized frames was the actual
      OOM, not the edge volume.

    The convergence probe is the label sum: min-propagation is
    monotone decreasing, so the sum strictly decreases until the fixed
    point.
    """
    from pyspark import StorageLevel

    oriented = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    sym = oriented.unionByName(
        oriented.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component_id", F.col("id"))
    )

    def _one_round(lbl: DataFrame) -> DataFrame:
        msgs = sym.join(lbl, sym.a == lbl.id).select(
            F.col("b").alias("id"), "component_id"
        )
        nxt = (
            lbl.unionByName(msgs)
            .groupBy("id")
            .agg(F.min("component_id").alias("component_id"))
        )
        # pointer-halving shortcut: every component_id IS a node id
        # (initialized from ids, min-agg only picks ids), so its own
        # label exists and is <= it — jump straight to it. This is the
        # log-diameter leg; the edge join above is the correctness leg.
        parents = nxt.select(
            F.col("id").alias("component_id"),
            F.col("component_id").alias("parent_label"),
        )
        return (
            nxt.join(parents, "component_id")
            .select("id", F.col("parent_label").alias("component_id"))
            .localCheckpoint(
                eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        )

    labels, _, converged = converge(
        labels, _one_round, F.sum("component_id"), operator.eq, max_iters
    )
    # the returned frame reads only its own checkpoint blocks — the
    # edge list is done serving the loop either way
    release_checkpoint(oriented)
    if not converged:
        # Unconverged labels would silently diverge from the full-
        # reachability oracle (a long duplicate chain exceeds the round
        # budget) — fail loudly instead (ADVICE r2).
        raise RuntimeError(
            f"connected_components did not converge within max_iters={max_iters} "
            "rounds (label sum still decreasing); the component graph has a "
            "longer diameter than expected — raise max_iters"
        )
    return labels


def incremental_batch_decisions(
    docs: DataFrame,
    text_col: str = "text",
    batch_mod: int = 10,
    batch_rem: int = 7,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """Incremental dedup: label TODAY'S BATCH against the existing
    corpus without re-deduping the corpus — the operation a 100 TB
    pipeline runs daily (re-running full-corpus dedup per ingest batch
    is quadratic over time).

    The batch is the ``doc_id % batch_mod == batch_rem`` slice (a
    deterministic, scale-proportional stand-in for an ingest date
    partition). Stages, cheapest first:

    1. EXACT: batch fingerprints left-join the corpus' per-fingerprint
       canonical (min id). One shuffle on fp — and at deployment the
       corpus side is a precomputed fingerprint INDEX table, so only
       the batch is fingerprinted fresh.
    2. NEAR: only exact-miss batch docs proceed. Batch band buckets
       equi-join CORPUS band buckets (one-sided — never batch×batch
       here, never corpus×corpus ever); corpus buckets above
       ``max_bucket_size`` are excluded (same cap discipline as
       :func:`minhash_lsh_candidates`). The corpus bucket table is
       likewise a precomputed index at deployment; its recompute here
       stands in for an index scan.

    Output: one row per batch doc — decision ``dup_exact`` /
    ``dup_near`` / ``new`` and ``dup_of`` = the corpus canonical
    (NULL for new docs). Batch-internal duplicates are NOT this
    operator's job (the full pipeline handles those when the batch is
    folded into the corpus); decisions here are batch-vs-corpus only.
    """
    docs = ensure_parallelism(docs)
    is_batch = (F.col("doc_id") % batch_mod) == batch_rem
    return incremental_decisions(
        docs.where(~is_batch),
        docs.where(is_batch),
        text_col,
        bands=bands,
        rows=rows,
        max_bucket_size=max_bucket_size,
    )


def incremental_decisions(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    max_bucket_size: int = LSH_MAX_BUCKET,
) -> DataFrame:
    """The engine of :func:`incremental_batch_decisions` with the
    corpus/batch split EXPLICIT, so compositions can feed any slice —
    e.g. the snapshot-diff flow (round 6): diff a new corpus version
    against the previous one and dedup ONLY the added/changed docs
    against the unchanged remainder. Same staging and output contract
    (dup_exact / dup_near / new + corpus canonical)."""
    from pos_pipeline_core_etl_spark.operators.text import fingerprint

    corpus = ensure_parallelism(corpus)
    batch = ensure_parallelism(batch)
    bfp = fingerprint(batch, text_col).select("doc_id", "fp")
    c_canon = (
        fingerprint(corpus, text_col)
        .groupBy("fp")
        .agg(F.min("doc_id").alias("exact_dup_of"))
    )
    # small frame feeding two consumers (decision join + miss filter)
    exact = bfp.join(c_canon, "fp", "left").select(
        "doc_id", "exact_dup_of"
    ).localCheckpoint(eager=False)

    miss = exact.where(F.col("exact_dup_of").isNull()).select("doc_id")
    bb = lsh_band_buckets(
        minhash_signatures(batch.join(miss, "doc_id"), text_col, k=bands * rows),
        bands=bands,
        rows=rows,
    )
    # cb feeds two consumers (bucket-size cap agg + the near join) but
    # is deliberately NOT checkpointed: it is corpus-sized and cheap to
    # recompute (map-side explode over the signature agg), so
    # materializing millions of (band, md5-key) string rows costs far
    # more than the second scan — measured 2.2 s → 31 s at the 100×
    # notch when a checkpoint was tried here. Checkpoint small,
    # expensive frames (the banded_hamming_pairs signature table);
    # recompute large, cheap ones.
    cb = lsh_band_buckets(
        minhash_signatures(corpus, text_col, k=bands * rows), bands=bands, rows=rows
    ).select(F.col("doc_id").alias("corpus_id"), "band", "bucket_key")
    ok = (
        cb.groupBy("band", "bucket_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") <= max_bucket_size)
        .select("band", "bucket_key")
    )
    near = (
        bb.join(cb.join(ok, ["band", "bucket_key"]), ["band", "bucket_key"])
        .groupBy("doc_id")
        .agg(F.min("corpus_id").alias("near_dup_of"))
    )

    out = exact.join(near, "doc_id", "left")
    decision = (
        F.when(F.col("exact_dup_of").isNotNull(), F.lit("dup_exact"))
        .when(F.col("near_dup_of").isNotNull(), F.lit("dup_near"))
        .otherwise(F.lit("new"))
    )
    return out.select(
        "doc_id",
        decision.alias("decision"),
        F.coalesce(F.col("exact_dup_of"), F.col("near_dup_of"))
        .cast("long")
        .alias("dup_of"),
    )


# ---------------------------------------------------------------------------
# substring (token-window) dedup — Lee et al., "Deduplicating Training
# Data Makes Language Models Better" (ACL 2022). The paper's suffix-array
# substring dedup re-expressed for a shared-nothing engine: fixed-width
# token windows anchored at CONTENT-DEFINED positions (winnowing/CDC
# style: a window starts wherever the token's hash ≡ 0 mod stride, plus
# position 0) hashed and counted across the corpus. Content-defined
# anchors make window boundaries align on the shared text itself, so a
# copied span collides across docs regardless of its byte offset —
# positional strides (start ≡ 0 mod stride per doc) miss any copy whose
# offset differs mod stride, e.g. one token prepended to a wholesale
# copy (ADVICE r4). A window that appears verbatim in >= 2 distinct
# docs marks a duplicated span; per-doc span stats drive the drop/trim
# decision downstream.

SUBSTR_WINDOW = 16  # tokens per window (the paper uses 50 BPE tokens)
SUBSTR_STRIDE = 8  # anchor density knob: E[windows per token] = 1/stride


def window_id(gram: Column) -> Column:
    """Stable 60-bit integer id of a token window: first 15 md5 hex chars.

    Windows feed DESTRUCTIVE keying (span removal deletes every token
    run whose id collides), so 32 bits is not enough: birthday collisions
    arrive near ~10^5 windows and would silently delete legitimate spans
    (ADVICE r4). 60 bits pushes the first expected collision past 10^9
    windows; :func:`shingle_id` stays 32-bit for the non-destructive
    minhash path only."""
    return F.conv(F.substring(F.md5(gram), 1, 15), 16, 10).cast("long")


WINDOW_ID_SQL = "CAST(('0x' || substr(md5({s}), 1, 15)) AS BIGINT)"


def _anchor_positions(t: Column, window: int, stride: int) -> Column:
    """0-based window start positions: content-defined anchors.

    A position ``i`` anchors a window when the (lowercased) token at
    ``i`` hashes ≡ 0 mod ``stride`` — so anchor placement depends only
    on content, and two docs sharing a span anchor it identically.
    Position 0 is always included: it guarantees >= 1 window for every
    doc with >= ``window`` tokens (coverage for short docs) and only
    ever ADDS collisions on genuinely shared prefixes."""
    idx = F.sequence(F.lit(0), F.size(t) - window)
    tok_hash = lambda i: F.conv(  # noqa: E731
        F.substring(F.md5(F.element_at(t, i + 1)), 1, 8), 16, 10
    ).cast("long")
    return F.filter(
        idx, lambda i: (i == 0) | (tok_hash(i) % stride == 0)
    )


def window_grams(
    text: Column, window: int = SUBSTR_WINDOW, stride: int = SUBSTR_STRIDE
) -> Column:
    """Content-anchored token windows of the lowercased text.

    Unlike :func:`shingles_col` these are NOT distinct — each occurrence
    counts, so repeated spans inside one doc still surface when another
    doc shares them."""
    t = tokens_col(F.lower(text))
    grams = F.transform(
        _anchor_positions(t, window, stride),
        lambda i: F.array_join(F.slice(t, i + 1, window), " "),
    )
    return F.when(F.size(t) >= window, grams).otherwise(
        F.array().cast("array<string>")
    )


def substring_duplicate_spans(
    docs: DataFrame,
    window: int = SUBSTR_WINDOW,
    stride: int = SUBSTR_STRIDE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc duplicated-span statistics from strided token windows.

    Returns one row per input doc: ``n_windows``, ``n_dup_windows``
    (windows whose exact token content occurs in >= 2 distinct docs)
    and ``max_window_copies`` (the corpus doc-frequency of the doc's
    most widely shared window). All-integer output — the oracle is
    bit-exact.

    Scale shape: explode is linear in corpus tokens / stride; the only
    shuffles are keyed — one hash-agg on the 64-bit window id, a join
    back on the same key (partitioning reused), and one per-doc agg.
    No doc × doc leg anywhere, so the plan survives 100 TB unchanged;
    `stride` is the cost knob (windows per token = 1/stride).
    """
    base = ensure_parallelism(docs.select(id_col, text_col), key=id_col)
    wins = base.select(
        id_col,
        F.explode(window_grams(F.col(text_col), window, stride)).alias("gram"),
    ).select(id_col, window_id(F.col("gram")).alias("wid"))
    freq = wins.groupBy("wid").agg(F.count_distinct(id_col).alias("n_docs"))
    per_doc = (
        wins.join(freq, "wid")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_dup_windows"),
            F.max("n_docs").alias("max_window_copies"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_windows", F.lit(0)).cast("long").alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("max_window_copies", F.lit(0))
            .cast("long")
            .alias("max_window_copies"),
        )
    )


def remove_duplicate_spans(
    docs: DataFrame,
    window: int = SUBSTR_WINDOW,
    stride: int = SUBSTR_STRIDE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The actionable form of :func:`substring_duplicate_spans`: rebuild
    each document with corpus-duplicated token spans REMOVED, keeping
    exactly one copy corpus-wide (the lowest doc_id containing the span
    keeps it — Lee et al. 2022 keep-one semantics, deterministic).

    Shape: the same keyed window stats as the detector (hash-agg on the
    window id carrying (n_docs, keeper)), then per-doc removed-position
    sets (collect_set over the doc's own few duplicated windows —
    bounded by windows-per-doc, never corpus-sized), and a map-side
    token filter via an indexed lambda; the rebuilt text never shuffles.
    """
    t_lower = tokens_col(F.lower(F.col(text_col)))
    grams = F.when(
        F.size(t_lower) >= window,
        F.transform(
            _anchor_positions(t_lower, window, stride),
            lambda i: F.struct(
                i.alias("pos"),
                window_id(F.array_join(F.slice(t_lower, i + 1, window), " ")).alias(
                    "wid"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,wid:long>>"))
    base = ensure_parallelism(docs.select(id_col, text_col), key=id_col)
    wins = base.select(id_col, F.explode(grams).alias("w")).select(
        id_col, F.col("w.pos").alias("pos"), F.col("w.wid").alias("wid")
    )
    freq = wins.groupBy("wid").agg(
        F.count_distinct(id_col).alias("n_docs"), F.min(id_col).alias("keeper")
    )
    removed = (
        wins.join(freq, "wid")
        .where((F.col("n_docs") >= 2) & (F.col(id_col) != F.col("keeper")))
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("rm"))
    )
    t_orig = tokens_col(F.col(text_col))
    rm = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    kept = F.filter(
        t_orig,
        lambda x, i: ~F.exists(rm, lambda p: (p <= i) & (i < p + window)),
    )
    return (
        docs.join(removed, id_col, "left")
        .select(
            id_col,
            F.size(t_orig).cast("long").alias("n_tokens"),
            (F.size(t_orig) - F.size(kept)).cast("long").alias("n_removed_tokens"),
            F.array_join(kept, " ").alias("cleaned_text"),
        )
    )


def remove_benchmark_spans(
    docs: DataFrame,
    benchmark_max_id: int = 50,
    window: int = SUBSTR_WINDOW,
    stride: int = SUBSTR_STRIDE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SURGICAL decontamination: rebuild each corpus document with the
    token spans that also occur in ANY benchmark document REMOVED —
    the redact-the-overlap alternative to dropping whole docs
    (:func:`~pos_pipeline_core_etl_spark.operators.text.decontaminate`
    flags; this one fixes). A long article quoting one benchmark
    question keeps everything but the quote.

    Same content-anchored window machinery as
    :func:`remove_duplicate_spans` — anchors are token-hash-selected,
    so the same content anchors at the same tokens on BOTH sides and
    alignment never matters. The benchmark window-id set is
    benchmark-sized and BROADCAST; the corpus leg is one explode +
    one broadcast semi join + a map-side token filter. Never
    corpus × corpus, no corpus-sized shuffle at all."""
    corpus = ensure_parallelism(
        docs.where(F.col(id_col) >= benchmark_max_id).select(id_col, text_col),
        key=id_col,
    )
    bench_wids = benchmark_window_ids(
        docs.where(F.col(id_col) < benchmark_max_id), window, stride, text_col
    )
    return redact_spans_with_wids(
        corpus, bench_wids, window, stride, text_col, id_col
    )


def benchmark_window_ids(
    bench: DataFrame,
    window: int = SUBSTR_WINDOW,
    stride: int = SUBSTR_STRIDE,
    text_col: str = "text",
) -> DataFrame:
    """Distinct content-anchored window ids of the benchmark set — the
    benchmark-sized broadcast side of span decontamination, factored out
    so the streaming twin can build it ONCE offline and rebroadcast it
    per micro-batch (the weights pattern of run_streaming_lr_scores)."""
    return (
        bench.select(
            F.explode(window_grams(F.col(text_col), window, stride)).alias("g")
        )
        .select(window_id(F.col("g")).alias("wid"))
        .distinct()
    )


def redact_spans_with_wids(
    corpus: DataFrame,
    bench_wids: DataFrame,
    window: int = SUBSTR_WINDOW,
    stride: int = SUBSTR_STRIDE,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rebuild each corpus doc with every token span whose anchored
    window id appears in ``bench_wids`` removed. Per-doc only (one
    explode + one broadcast join + a map-side token filter), so it
    serves batch and per-micro-batch callers identically."""
    t_lower = tokens_col(F.lower(F.col(text_col)))
    grams = F.when(
        F.size(t_lower) >= window,
        F.transform(
            _anchor_positions(t_lower, window, stride),
            lambda i: F.struct(
                i.alias("pos"),
                window_id(F.array_join(F.slice(t_lower, i + 1, window), " ")).alias(
                    "wid"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,wid:long>>"))
    wins = corpus.select(id_col, F.explode(grams).alias("w")).select(
        id_col, F.col("w.pos").alias("pos"), F.col("w.wid").alias("wid")
    )
    removed = (
        wins.join(F.broadcast(bench_wids), "wid")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_set("pos")).alias("rm"))
    )
    t_orig = tokens_col(F.col(text_col))
    rm = F.coalesce(F.col("rm"), F.array().cast("array<int>"))
    kept = F.filter(
        t_orig,
        lambda x, i: ~F.exists(rm, lambda p: (p <= i) & (i < p + window)),
    )
    return corpus.join(removed, id_col, "left").select(
        id_col,
        F.size(t_orig).cast("long").alias("n_tokens"),
        (F.size(t_orig) - F.size(kept)).cast("long").alias("n_removed_tokens"),
        F.array_join(kept, " ").alias("cleaned_text"),
    )


# ---------------------------------------------------------------------------
# winnowing fingerprints — Schleimer, Wilkerson & Aiken, "Winnowing:
# Local Algorithms for Document Fingerprinting" (SIGMOD 2003; the MOSS
# algorithm). Selects the MIN k-gram hash inside every window of w
# consecutive hashes; the selected-value set is position-robust and
# GUARANTEES any shared token run of >= k + w - 1 tokens contributes a
# shared fingerprint — the coverage guarantee the simpler mod-stride
# anchoring (window_grams) trades away for cheaper windows.

WINNOW_K = 4  # tokens per k-gram
WINNOW_W = 4  # winnowing window (consecutive hashes per selection)


def winnow_fingerprints_col(
    text: Column, k: int = WINNOW_K, w: int = WINNOW_W
) -> Column:
    """Sorted distinct winnowing fingerprints (60-bit k-gram hashes) of
    the lowercased text; empty array when the doc has < k + w - 1
    tokens (no full window). Pure map-side array expressions."""
    t = tokens_col(F.lower(text))
    n = F.size(t)
    grams = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: window_id(F.array_join(F.slice(t, i + 1, k), " ")),
    )
    mins = F.transform(
        F.sequence(F.lit(0), n - k - w + 1),
        lambda j: F.array_min(F.slice(grams, j + 1, w)),
    )
    return F.when(
        n >= k + w - 1, F.array_sort(F.array_distinct(mins))
    ).otherwise(F.array().cast("array<long>"))


def winnow_stats(
    docs: DataFrame,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Per-doc winnowing fingerprint statistics: k-gram count,
    fingerprint count, and selection density (expected ≈ 2 / (w + 1)
    on random text — Schleimer et al. §3). All-integer except the
    hround(6) density, so the oracle is bit-exact."""
    from pos_pipeline_core_etl_spark.functions.rounding import hround

    t = tokens_col(F.lower(F.col(text_col)))
    n_kgrams = F.greatest(F.size(t) - k + 1, F.lit(0))
    fps = winnow_fingerprints_col(F.col(text_col), k, w)
    return ensure_parallelism(docs.select("doc_id", text_col)).select(
        "doc_id",
        n_kgrams.cast("long").alias("n_kgrams"),
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.when(n_kgrams > 0, hround(F.size(fps) / n_kgrams, 6))
        .otherwise(F.lit(0.0))
        .alias("density"),
    )


def winnow_shared_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_bucket_size: int | None = LSH_MAX_BUCKET,
) -> DataFrame:
    """MOSS-style near-dup detection: doc pairs sharing >= ``min_shared``
    winnowing fingerprints → (doc_a, doc_b, n_shared). The coverage
    guarantee makes this alignment-proof: ANY copied run of
    >= k + w - 1 tokens shares a fingerprint regardless of offset.

    Scale shape: explode to (doc_id, fp), pairs expanded INSIDE capped
    fp buckets exactly like :func:`minhash_lsh_candidates` (one keyed
    groupBy — never doc × doc), then one keyed count per pair. Buckets
    above the cap (boilerplate fingerprints shared by thousands of
    docs — headers, license text) are EXCLUDED, which is also standard
    winnowing practice (drop too-common fingerprints as noise)."""
    fps = ensure_parallelism(docs.select("doc_id", text_col)).select(
        "doc_id", F.explode(winnow_fingerprints_col(F.col(text_col), k, w)).alias("fp")
    )
    keep = F.size("ids") > 1
    if max_bucket_size is not None:
        keep = keep & (F.size("ids") <= max_bucket_size)
    grouped = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .where(keep)
    )
    pair_structs = upper_triangle_pairs()
    return (
        grouped.select(F.explode(pair_structs).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
