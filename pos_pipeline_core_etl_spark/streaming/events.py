"""Structured Streaming over the events table (SURVEY §2.10 extension).

The reference has no streaming — its incremental batch model (interval
subtraction + stage metadata) maps to idempotent re-runs. This module
adds the streaming ingestion mode the rebuild offers on top: tumbling-
window aggregation with a watermark for late data, plus gap-based
sessionization. The batch twins of both queries live in
``plans.streaming_queries`` and are oracle-checked; the streaming
versions are asserted equal to the batch results in tests (file source
+ ``availableNow`` drains the table deterministically).

Drain idiom: every runner hands its stream to :func:`_drain`, which
runs ONE ``availableNow``-triggered query to completion — into a
memory table or through a ``foreachBatch`` body — and returns the
terminated query, so its ``recentProgress`` (input rows and the
per-batch ``durationMs`` breakdown) stays readable after the drain.
The sketch runners read their source through :func:`_chunked_stream`
(``maxFilesPerTrigger=1``), so a multi-file backlog drains as several
micro-batches and the merge leg of each maintainer really runs.

Partition-state contract shared by every ``foreachBatch`` maintainer:

- state and output live in ``batch_id=N`` directories, one per
  micro-batch, written by :func:`write_batch_idempotent`;
- batch N reads only STRICTLY earlier ids (:func:`_prior_partitions`
  for the append-only indexes, ``_latest_partition(d, before=N)`` for
  the constant-size sketch state), never its own id or a later one;
- the final state is the highest id (``_latest_partition(d)``);
- a replayed batch recomputes from the same earlier ids and overwrites
  its own id, so at-least-once delivery converges to exactly-once.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pos_pipeline_core_etl_spark.functions.rounding import hround

WINDOW = "5 minutes"
WATERMARK = "10 minutes"
SESSION_GAP = "30 minutes"


def _drain(
    stream: DataFrame,
    sink: str | Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    mode: str = "append",
) -> StreamingQuery:
    """Run one ``availableNow`` drain of ``stream`` to completion and
    return the terminated query. ``sink`` is a memory-table name or a
    ``foreachBatch`` body ``(batch_df, batch_id) -> None``."""
    writer = stream.writeStream.outputMode(mode)
    if callable(sink):
        writer = writer.foreachBatch(sink)
    else:
        writer = writer.format("memory").queryName(sink)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    query = writer.trigger(availableNow=True).start()
    query.awaitTermination()
    return query


def _latest_partition(base_dir: str, before: int | None = None) -> str | None:
    """Path of the numerically highest ``batch_id=N`` directory under
    ``base_dir`` (only ``N < before`` when given), or None if there is
    none."""
    ids = [
        int(d.rsplit("=", 1)[1])
        for d in (os.listdir(base_dir) if os.path.isdir(base_dir) else [])
        if d.startswith("batch_id=")
    ]
    ids = [n for n in ids if before is None or n < before]
    return os.path.join(base_dir, f"batch_id={max(ids)}") if ids else None


def _prior_partitions(
    spark: SparkSession, base_dir: str, batch_id: int
) -> DataFrame | None:
    """Every partition of an append-only index with id < ``batch_id``,
    read as one frame (with its ``batch_id`` column), or None when no
    earlier batch wrote one. The partition filter prunes this batch's
    own directory (a failed attempt's leftovers) and any later one."""
    if _latest_partition(base_dir, before=batch_id) is None:
        return None
    return spark.read.parquet(base_dir).where(F.col("batch_id") < batch_id)


def _chunked_stream(spark: SparkSession, schema: str, stream_dir: str) -> DataFrame:
    """Parquet stream that drains one file per micro-batch.
    ``availableNow`` honours the cap and splits the backlog, so a sketch
    maintainer demonstrably runs INCREMENTALLY — without it the whole
    backlog collapses into a single batch and the merge leg never
    executes."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )


def _final_state(spark: SparkSession, base_dir: str, empty_schema: str) -> DataFrame:
    """The highest-id state partition, or an empty frame of
    ``empty_schema`` when the drain wrote none (empty or missing
    stream directory)."""
    final = _latest_partition(base_dir)
    if final is None:
        return spark.createDataFrame([], empty_schema)
    return spark.read.parquet(final)


def tumbling_counts_batch(events: DataFrame) -> DataFrame:
    """5-minute tumbling window × event_type counts + value sums."""
    return (
        events.groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), hround(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Per-user session windows with a 30-minute inactivity gap."""
    return (
        events.groupBy(F.session_window("ts", SESSION_GAP), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), hround(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("session_window.start").alias("session_start"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def read_events_stream(
    spark: SparkSession, sf_dir: str, stream_dir: str | None = None
) -> DataFrame:
    """File-source stream over the events parquet.

    The streaming file source requires a DIRECTORY; the testdata ships a
    single file, so it is symlinked into a temp dir (testdata itself is
    read-only). Schema is pinned — streaming sources never infer. Pass a
    stable ``stream_dir`` when restarting from a checkpoint — the
    checkpoint pins the source root path.
    """
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    if stream_dir is None:
        stream_dir = tempfile.mkdtemp(prefix="events_stream_")
    else:
        os.makedirs(stream_dir, exist_ok=True)
    link = os.path.join(stream_dir, "events.parquet")
    if os.path.islink(link):
        # a stream_dir reused across scale factors must not silently
        # stream stale data (ADVICE r1): re-link when the target moved
        if os.readlink(link) != src:
            os.unlink(link)
            os.symlink(src, link)
    elif not os.path.exists(link):
        os.symlink(src, link)
    # events.parquet stores ts as tz-naive timestamp[us]; declare it NTZ
    # and cast through the UTC session to the LTZ type the window /
    # watermark operators expect (same convention as the batch path).
    raw = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props string"
        )
        .parquet(stream_dir)
    )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def run_streaming_stateful_counters(
    spark: SparkSession, sf_dir: str, query_name: str = "events_state_out"
) -> DataFrame:
    """Custom stateful operator: running per-event-type totals via
    ``applyInPandasWithState`` (the rebuild's template for stateful
    logic Spark's built-in aggs can't express).

    State per event_type = (n, total_value); each micro-batch folds its
    rows into state and emits the updated snapshot.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n": [n], "total_value": [round(total, 2)]}
        )

    stream = read_events_stream(spark, sf_dir)
    out = stream.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType="event_type string, n long, total_value double",
        stateStructType="n long, total_value double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _drain(out, query_name, mode="update")
    # memory sink in update mode appends snapshots; last row per key wins
    snap = spark.sql(f"SELECT * FROM {query_name}")
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    return (
        snap.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


def run_streaming_transition_matrix(
    spark: SparkSession,
    stream_dir: str,
    query_name: str = "events_transitions_out",
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Stateful streaming twin of
    plans/analytics.py::events_transition_matrix — and the leg that
    actually NEEDS state: a user's consecutive events straddle
    micro-batch boundaries, so the stateless union-of-batches trick the
    other twins use would DROP every cross-batch transition. State per
    user (via ``applyInPandasWithState``) = the last seen (ts, event_id,
    event_type); each micro-batch sorts the user's new rows by the batch
    ordering contract (ts, event_id), chains them onto the carried last
    event, emits the new (from_type, to_type) transition rows, and
    advances the state. The memory sink appends per-batch emissions;
    the caller aggregates them into the (from_type, to_type, n, p)
    matrix — proven ≡ the batch query, independent of how the input is
    chunked (boundary-invariance is the test).

    100 TB shape: state is one tiny row per user, partitioned by the
    stream's user_id grouping; each batch shuffles only its own rows."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        types = rows["event_type"].tolist()
        if state.exists:
            _ts, _eid, last_type = state.get
            chain = [last_type, *types]
        else:
            chain = types
        last = rows.iloc[-1]
        state.update(
            (int(last["ts"]), int(last["event_id"]), str(last["event_type"]))
        )
        if len(chain) > 1:
            yield pd.DataFrame(
                {"from_type": chain[:-1], "to_type": chain[1:]}
            )

    raw = (
        spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(stream_dir)
    )
    # state rows must round-trip through Arrow: carry ts as epoch micros
    # derived ARITHMETICALLY from the ntz wall-clock fields (ADVICE r8):
    # unix_micros(ts.cast('timestamp')) routes TIMESTAMP_NTZ through the
    # session timezone, and during a DST spring-forward gap that cast is
    # non-injective — two distinct ntz values can collapse to equal
    # micros, diverging from the batch query's pure ntz ordering.  (The
    # obvious to_utc_timestamp fix does NOT help: the analyzer inserts
    # the same session-tz cast first.)  unix_date(date), hour, minute
    # and date_part('SECOND', …) on an ntz column are wall-clock pure,
    # so this maps ntz → micros-as-if-UTC, order-isomorphic to ntz.
    # (Not a double cast either — seconds truncation would break the
    # (ts, event_id) tie-order contract vs the batch query.)
    ntz_micros = (
        F.unix_date(F.col("ts").cast("date")) * F.lit(86_400_000_000)
        + F.hour("ts").cast("long") * F.lit(3_600_000_000)
        + F.minute("ts").cast("long") * F.lit(60_000_000)
        + (F.date_part(F.lit("SECOND"), F.col("ts")) * F.lit(1_000_000)).cast("long")
    )
    stream = raw.select(
        "event_id",
        ntz_micros.alias("ts"),
        "user_id",
        "event_type",
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="from_type string, to_type string",
        stateStructType="ts long, event_id long, event_type string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    _drain(out, query_name)
    from pyspark.sql import Window

    from pos_pipeline_core_etl_spark.functions.rounding import hround

    counts = (
        spark.sql(f"SELECT * FROM {query_name}")
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        hround(F.col("n") / F.sum("n").over(tot), 6).alias("p"),
    )


def write_batch_idempotent(batch_df: DataFrame, batch_id: int, out_dir: str) -> None:
    """Idempotent micro-batch writer: the target directory is a pure
    function of ``batch_id``, and the write is ``overwrite``. foreachBatch
    gives at-least-once delivery — a batch replayed after a failure
    re-runs with the SAME id, overwrites its own directory, and the sink
    converges to exactly-once. (Same contract a Delta/transactional sink
    provides via txn version; expressed here over plain parquet.)"""
    batch_df.write.mode("overwrite").parquet(
        os.path.join(out_dir, f"batch_id={batch_id}")
    )


def run_streaming_foreach_batch(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    stream_dir: str | None = None,
) -> DataFrame:
    """Drain the events stream through a ``foreachBatch`` exactly-once
    parquet sink and read back the consolidated result.

    The checkpoint tracks which source files each batch consumed, so a
    restart with the same checkpoint processes nothing new — tested by
    running the query twice and asserting the sink is unchanged.
    """
    stream = read_events_stream(spark, sf_dir, stream_dir=stream_dir)
    enriched = stream.where(F.col("value") > 0).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    _drain(
        enriched,
        lambda df, bid: write_batch_idempotent(df, bid, out_dir),
        checkpoint_dir,
    )
    return spark.read.parquet(out_dir)


def run_streaming_tumbling_counts(spark: SparkSession, sf_dir: str, query_name: str = "events_stream_out") -> DataFrame:
    """Drain the events table through a real streaming query (watermark +
    tumbling window) into a memory sink; returns the final result."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", WINDOW), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), hround(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("window.start").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
    )
    _drain(agg, query_name, mode="complete")
    return spark.sql(f"SELECT * FROM {query_name}")


def dedup_batch(events: DataFrame) -> DataFrame:
    """Batch twin of the streaming dedup: double the input, keep one row
    per event_id. Duplicates are injected deterministically (a full
    self-union) so the operator has real work to do — the events fixture
    itself is unique per id."""
    doubled = events.unionByName(events)
    return (
        doubled.select(
            "event_id", "event_type", hround(F.col("value"), 2).alias("value")
        )
        .distinct()
    )


def run_streaming_dedup(
    spark: SparkSession, sf_dir: str, query_name: str = "events_dedup_out"
) -> DataFrame:
    """Exactly-once event dedup on a stream: watermark +
    ``dropDuplicatesWithinWatermark`` over an id key — the streaming
    ingestion guard against at-least-once sources. The duplicate rows
    come from a deterministic self-union of the stream (same micro-batch),
    mirroring :func:`dedup_batch`."""
    stream = read_events_stream(spark, sf_dir)
    doubled = stream.unionByName(stream)
    deduped = (
        doubled.withWatermark("ts", WATERMARK)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type", hround(F.col("value"), 2).alias("value"))
    )
    _drain(deduped, query_name)
    return spark.sql(f"SELECT * FROM {query_name}")


def purchase_view_join_batch(events: DataFrame) -> DataFrame:
    """Batch twin of the stream-stream join: each purchase matched to the
    same user's view events in the preceding 10 minutes."""
    views = events.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("view_ts"),
        F.col("event_id").alias("view_id"),
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        hround(F.col("value"), 2).alias("purchase_value"),
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("purchase_id", "view_id", "p_user", "purchase_value")


def attribution_join_stream(stream: DataFrame) -> DataFrame:
    """The watermarked stream-stream attribution join over an events
    stream: purchases × the same user's views within the preceding 10
    minutes. Both sides carry watermarks so buffered state for
    out-of-range rows is reclaimed, and inputs older than the current
    watermark are DROPPED on arrival — late-data semantics proven in
    ``tests/test_streaming.py::TestAttributionJoinLateData``."""
    views = (
        stream.where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("view_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("view_ts", WATERMARK)
    )
    purchases = (
        stream.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            hround(F.col("value"), 2).alias("purchase_value"),
        )
        .withWatermark("purchase_ts", WATERMARK)
    )
    return purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("view_ts") <= F.col("purchase_ts"))
        & (F.col("view_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 10 MINUTES")),
    ).select("purchase_id", "view_id", "p_user", "purchase_value")


def run_streaming_purchase_view_join(
    spark: SparkSession, sf_dir: str, query_name: str = "events_ssjoin_out"
) -> DataFrame:
    """Drain the events table through :func:`attribution_join_stream`
    into a memory sink (``availableNow``); asserted equal to
    :func:`purchase_view_join_batch` in tests."""
    joined = attribution_join_stream(read_events_stream(spark, sf_dir))
    _drain(joined, query_name)
    return spark.sql(f"SELECT * FROM {query_name}")


def run_attribution_join_incremental(
    spark: SparkSession,
    stream_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    ts_encoding: str = "nanos_long",
) -> None:
    """One ``availableNow`` drain of the attribution join from an
    explicit source directory into an idempotent ``foreachBatch``
    parquet sink. Re-invoking with the same checkpoint after adding
    files processes ONLY the new files — with the watermark restored
    from the checkpoint, which is what makes late-data eviction
    observable across drains (the memory sink cannot recover from a
    checkpoint, hence the parquet sink here).

    ``ts_encoding`` declares how files in ``stream_dir`` store ``ts``
    (a streaming source cannot infer; ADVICE r3 — the two encodings in
    the wild here are not interchangeable):

    - ``"nanos_long"``: int64 epoch nanoseconds (the late-data test's
      hand-written files)
    - ``"timestamp_ntz"``: tz-naive TIMESTAMP(US) — the layout of the
      driver fixture ``events.parquet``, same declaration as
      :func:`read_events_stream`
    """
    if ts_encoding == "nanos_long":
        raw = spark.readStream.schema(
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string"
        ).parquet(stream_dir)
        stream = raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_encoding == "timestamp_ntz":
        raw = spark.readStream.schema(
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props string"
        ).parquet(stream_dir)
        stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    else:
        raise ValueError(
            f"ts_encoding must be nanos_long|timestamp_ntz, got {ts_encoding!r}"
        )
    joined = attribution_join_stream(stream)
    _drain(
        joined,
        lambda df, bid: write_batch_idempotent(df, bid, out_dir),
        checkpoint_dir,
    )


def dedup_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    index_dir: str,
    band_index_dir: str | None = None,
) -> None:
    """foreachBatch body for streaming incremental dedup: label the
    micro-batch against the accumulated corpus indexes, then fold the
    batch into them (the module partition-state contract).

    Two append-only parquet indexes, partitioned by the batch that
    contributed them — exactly the "precomputed indexes" the batch
    operator (operators/dedup.py::incremental_batch_decisions) says a
    deployment maintains; this is the maintainer:

    - ``index_dir``: (doc_id, fp) fingerprint index → ``dup_exact``
    - ``band_index_dir`` (optional): (doc_id, band, bucket_key) MinHash
      LSH band-bucket index → ``dup_near``, computed one-sided for
      exact-miss docs only, with the same ``LSH_MAX_BUCKET`` cap on
      prior-corpus buckets as the batch operator — never batch × batch,
      never corpus × corpus

    Decisions use the index state BEFORE this batch (strict
    arrival-order semantics: a doc is a dup iff an EARLIER batch id
    contained its fingerprint / a near bucket-mate; in-batch exact
    duplicates resolve against the batch's own min id). Precedence
    mirrors the batch operator: dup_exact, then dup_near, then
    dup_in_batch (the streaming-only refinement — the batch operator
    leaves batch-internal duplicates to the fold-in), then new.
    """
    from pos_pipeline_core_etl_spark.operators.dedup import (
        LSH_BANDS,
        LSH_MAX_BUCKET,
        LSH_ROWS,
        lsh_band_buckets,
        minhash_signatures,
    )
    from pos_pipeline_core_etl_spark.operators.text import fingerprint

    spark = batch_df.sparkSession
    fp = fingerprint(batch_df).select("doc_id", "fp")

    idx = _prior_partitions(spark, index_dir, batch_id)
    if idx is not None:
        canon = idx.groupBy("fp").agg(F.min("doc_id").alias("exact_dup_of"))
    else:
        canon = (
            fp.select("fp").limit(0).withColumn("exact_dup_of", F.lit(None).cast("long"))
        )

    in_batch = fp.groupBy("fp").agg(F.min("doc_id").alias("batch_min"))
    exact = fp.join(canon, "fp", "left").join(in_batch, "fp").select(
        "doc_id", "exact_dup_of", "batch_min"
    )

    bb = None
    if band_index_dir is not None:
        # near leg for exact-miss docs only (batch-operator staging);
        # the full batch's buckets still fold into the index below
        exact = exact.localCheckpoint(eager=False)
        miss = exact.where(F.col("exact_dup_of").isNull()).select("doc_id")
        bb_all = lsh_band_buckets(
            minhash_signatures(batch_df, "text", k=LSH_BANDS * LSH_ROWS)
        )
        bb = bb_all.localCheckpoint(eager=False)
        prior_bands = _prior_partitions(spark, band_index_dir, batch_id)
        if prior_bands is not None:
            cb = prior_bands.select(
                F.col("doc_id").alias("corpus_id"), "band", "bucket_key"
            )
            ok = (
                cb.groupBy("band", "bucket_key")
                .agg(F.count(F.lit(1)).alias("n"))
                .where(F.col("n") <= LSH_MAX_BUCKET)
                .select("band", "bucket_key")
            )
            near = (
                bb.join(miss, "doc_id")
                .join(cb.join(ok, ["band", "bucket_key"]), ["band", "bucket_key"])
                .groupBy("doc_id")
                .agg(F.min("corpus_id").alias("near_dup_of"))
            )
        else:
            near = miss.limit(0).withColumn("near_dup_of", F.lit(None).cast("long"))
        exact = exact.join(near, "doc_id", "left")
    else:
        exact = exact.withColumn("near_dup_of", F.lit(None).cast("long"))

    decided = exact.select(
        "doc_id",
        F.when(F.col("exact_dup_of").isNotNull(), F.lit("dup_exact"))
        .when(F.col("near_dup_of").isNotNull(), F.lit("dup_near"))
        .when(F.col("doc_id") != F.col("batch_min"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("decision"),
        F.coalesce(
            F.col("exact_dup_of"),
            F.col("near_dup_of"),
            F.when(F.col("doc_id") != F.col("batch_min"), F.col("batch_min")),
        )
        .cast("long")
        .alias("dup_of"),
    )
    write_batch_idempotent(decided, batch_id, out_dir)
    write_batch_idempotent(fp, batch_id, index_dir)
    if band_index_dir is not None and bb is not None:
        write_batch_idempotent(bb, batch_id, band_index_dir)


def run_streaming_incremental_dedup(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    band_index_dir: str | None = None,
) -> DataFrame:
    """Streaming twin of `dedup_incremental_batch`: drain a document
    stream through :func:`dedup_index_batch` with availableNow, then
    read back the consolidated decision table. Carries the batch
    operator's FULL decision semantics — dup_exact / dup_near / new
    (plus the streaming-only dup_in_batch) — by maintaining both the
    fingerprint index and the LSH band-bucket index across batches
    (``band_index_dir`` defaults to ``index_dir + "_bands"``).

    Scale shape: each micro-batch costs one batch-sized fingerprint
    projection plus equi-joins against the two indexes (at deployment
    the index groupBys are compacted tables, not per-batch re-aggs);
    the corpus is never re-deduped and the near leg is one-sided —
    never corpus × corpus."""
    if band_index_dir is None:
        band_index_dir = index_dir + "_bands"
    raw = spark.readStream.schema("doc_id long, text string").parquet(stream_dir)
    _drain(
        raw,
        lambda df, bid: dedup_index_batch(
            df, bid, out_dir, index_dir, band_index_dir=band_index_dir
        ),
        checkpoint_dir,
    )
    return spark.read.parquet(out_dir)


def run_streaming_windowed_topk(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "events_topk_out",
    k: int = 3,
) -> DataFrame:
    """Streaming twin of events_windowed_topk (trending types per day):
    a watermarked day-tumbling count aggregation drains through a
    complete-mode memory sink, then the per-day top-k rank runs on the
    finished snapshot — ranks are not incrementally maintainable in a
    streaming agg, so the rank is the read-back step, exactly like the
    stateful-counter snapshot post-processing above. Day buckets use
    ``F.window('1 day')`` (epoch-aligned UTC), matching the batch
    query's ``to_date`` under the UTC session contract."""
    stream = read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.to_date(F.col("window.start")).alias("day"), "event_type", "n")
    )
    _drain(agg, query_name, mode="complete")
    from pyspark.sql import Window

    snap = spark.sql(f"SELECT * FROM {query_name}")
    w = Window.partitionBy("day").orderBy(F.col("n").desc(), F.col("event_type"))
    return (
        snap.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("day", F.col("rnk").cast("long").alias("rnk"), "event_type", "n")
    )


def image_dedup_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    index_dir: str,
    max_hamming: int = 3,
) -> None:
    """foreachBatch body for streaming IMAGE dedup — the perceptual
    twin of :func:`dedup_index_batch`, completing the streaming ↔ batch
    pairing for the image decision family (multimodal_dedup_decisions).

    The accumulated index is one append-only (doc_id, dhash) parquet
    table: unlike the MinHash maintainer, no separate band index is
    needed because dHash band keys derive MAP-SIDE from the signature
    itself (simhash_band_widths shifts/masks — plain column
    expressions), so the corpus band view is a projection of the same
    index the exact leg reads. Per batch: decode/hash the payloads
    ONCE (mapInPandas image codec), label against the prior index —
    dup_exact (identical dhash seen earlier), dup_near (banded Hamming
    ≤ max_hamming vs prior signatures, capped buckets, one-sided —
    never corpus × corpus), dup_in_batch (identical dhash within the
    batch, min id), else new — then fold the batch's signatures in,
    under the module partition-state contract."""
    from pos_pipeline_core_etl_spark.operators.dedup import (
        LSH_MAX_BUCKET,
        simhash_band_widths,
    )
    from pos_pipeline_core_etl_spark.operators.multimodal import image_dhash

    spark = batch_df.sparkSession
    sigs = image_dhash(batch_df).select("doc_id", "dhash").localCheckpoint(
        eager=False
    )

    idx = _prior_partitions(spark, index_dir, batch_id)
    if idx is not None:
        idx = idx.select(
            F.col("doc_id").alias("corpus_id"), F.col("dhash").alias("c_dhash")
        ).localCheckpoint(eager=False)
        canon = idx.groupBy("c_dhash").agg(F.min("corpus_id").alias("exact_dup_of"))
        labeled = sigs.join(
            canon, sigs["dhash"] == canon["c_dhash"], "left"
        ).select("doc_id", "dhash", "exact_dup_of")
    else:
        labeled = sigs.withColumn("exact_dup_of", F.lit(None).cast("long"))

    in_batch = sigs.groupBy("dhash").agg(F.min("doc_id").alias("batch_min"))
    labeled = labeled.join(in_batch, "dhash").localCheckpoint(eager=False)

    if idx is not None:
        widths = simhash_band_widths(64, max_hamming)

        def bands(df, sig_col, id_name):
            structs = [
                f"named_struct('band', {b}, "
                f"'val', shiftright({sig_col}, {shift}) & {(1 << width) - 1}L)"
                for b, (shift, width) in enumerate(widths)
            ]
            return df.select(
                F.col(id_name),
                F.col(sig_col),
                F.explode(F.expr(f"array({', '.join(structs)})")).alias("bv"),
            ).select(
                id_name,
                sig_col,
                F.col("bv.band").alias("band"),
                F.col("bv.val").alias("val"),
            )

        miss = labeled.where(F.col("exact_dup_of").isNull()).select("doc_id", "dhash")
        cb = bands(idx, "c_dhash", "corpus_id")
        ok = (
            cb.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") <= LSH_MAX_BUCKET)
            .select("band", "val")
        )
        mb = bands(miss, "dhash", "doc_id")
        near = (
            mb.join(cb.join(ok, ["band", "val"]), ["band", "val"])
            .where(
                F.bit_count(F.col("dhash").bitwiseXOR(F.col("c_dhash")))
                <= max_hamming
            )
            .groupBy("doc_id")
            .agg(F.min("corpus_id").alias("near_dup_of"))
        )
        labeled = labeled.join(near, "doc_id", "left")
    else:
        labeled = labeled.withColumn("near_dup_of", F.lit(None).cast("long"))

    decided = labeled.select(
        "doc_id",
        F.when(F.col("exact_dup_of").isNotNull(), F.lit("dup_exact"))
        .when(F.col("near_dup_of").isNotNull(), F.lit("dup_near"))
        .when(F.col("doc_id") != F.col("batch_min"), F.lit("dup_in_batch"))
        .otherwise(F.lit("new"))
        .alias("decision"),
        F.coalesce(
            F.col("exact_dup_of"),
            F.col("near_dup_of"),
            F.when(F.col("doc_id") != F.col("batch_min"), F.col("batch_min")),
        )
        .cast("long")
        .alias("dup_of"),
    )
    write_batch_idempotent(decided, batch_id, out_dir)
    write_batch_idempotent(sigs, batch_id, index_dir)


def run_streaming_image_dedup(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str,
    index_dir: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Streaming perceptual image dedup: drain a (doc_id, payload)
    binary stream through :func:`image_dedup_index_batch` with
    availableNow, then read back the consolidated decision table.
    Scale shape per micro-batch: ONE codec pass over the batch
    payloads (the only Python leg), equi-joins against the signature
    index, capped one-sided banding for the near leg — the corpus is
    never re-hashed and never joined against itself."""
    raw = spark.readStream.schema("doc_id long, payload binary").parquet(stream_dir)
    _drain(
        raw,
        lambda df, bid: image_dedup_index_batch(df, bid, out_dir, index_dir),
        checkpoint_dir,
    )
    return spark.read.parquet(out_dir)


FACT_STREAM_SCHEMA = (
    "sucursal string, operating_date date, order_index long, "
    "payment_method string, ticket_total double, ticket_tip double, "
    "elimination_present boolean"
)


def mart_maintenance_batch(
    batch_df: DataFrame,
    batch_id: int,
    partials_dir: str,
    mart_dir: str,
    holidays: DataFrame,
) -> None:
    """One micro-batch of streaming materialized-view maintenance for
    the payments daily mart.

    The maintainable state is the mart's level-1 TICKET-GRAIN partials
    (``operators.payments.per_ticket_partials`` — mergeable: sums add,
    elimination ORs), kept under the module partition-state contract.
    The day-grain mart is then rebuilt ONLY for the fechas this batch
    touches — merge the touched slice of this batch's and every earlier
    batch's partials, roll up, and dynamic-partition-overwrite those fecha
    partitions. Untouched days are never read or rewritten.

    100 TB shape: per batch, one batch-sized shuffle (the partials
    agg) + a touched-days-sized merge; the mart converges to the batch
    twin regardless of how facts are sliced across batches (proven in
    tests against build_payments_daily on the union)."""
    from pos_pipeline_core_etl_spark.operators.payments import (
        daily_from_per_ticket,
        merge_per_ticket,
        per_ticket_partials,
    )

    spark = batch_df.sparkSession
    own_dir = os.path.join(partials_dir, f"batch_id={batch_id}")
    pt = per_ticket_partials(batch_df)
    pt.write.mode("overwrite").parquet(own_dir)
    pt_written = spark.read.parquet(own_dir)
    affected = pt_written.select("fecha").distinct()
    prior = _prior_partitions(spark, partials_dir, batch_id)
    allp = pt_written if prior is None else pt_written.unionByName(prior.drop("batch_id"))
    touched = allp.join(F.broadcast(affected), ["fecha"], "left_semi")
    fresh = daily_from_per_ticket(merge_per_ticket(touched), holidays)
    (
        fresh.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("fecha")
        .parquet(mart_dir)
    )


def run_streaming_mart_maintenance(
    spark: SparkSession,
    stream_dir: str,
    partials_dir: str,
    mart_dir: str,
    checkpoint_dir: str,
    holidays: DataFrame,
) -> DataFrame:
    """Streaming twin of payments_daily_mart_incremental: drain a
    fact_payments_ticket stream through mart_maintenance_batch with
    availableNow, then read back the maintained mart. After any drain
    the mart equals build_payments_daily over every fact row consumed
    so far — the materialized-view contract."""
    raw = spark.readStream.schema(FACT_STREAM_SCHEMA).parquet(stream_dir)
    _drain(
        raw,
        lambda df, bid: mart_maintenance_batch(
            df, bid, partials_dir, mart_dir, holidays
        ),
        checkpoint_dir,
    )
    return spark.read.parquet(mart_dir)


def run_streaming_decontaminate_fuzzy(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    benchmark: DataFrame,
    threshold: float = 0.3,
) -> DataFrame:
    """Decontamination-on-arrival: each micro-batch of incoming corpus
    documents is MinHash-banded and probed against the PRECOMPUTED
    benchmark band-bucket index (benchmark-sized — built offline once,
    rebuilt per batch session from collected rows, the weights pattern
    of :func:`run_streaming_lr_scores`), candidates verified with exact
    shingle Jaccard against the broadcast benchmark shingle arrays, and
    the per-doc best-match report written through the idempotent
    batch_id sink. Scoring is per-doc against a static benchmark, so
    the union of batch outputs is ≡ the batch operator
    (operators/text.py::decontaminate_fuzzy) over the same documents —
    pinned by test. The ingest-time guard that keeps benchmark leakage
    from ever landing in a training corpus, instead of a post-hoc
    sweep."""
    from pyspark.sql import Window

    from pos_pipeline_core_etl_spark.functions.rounding import hround
    from pos_pipeline_core_etl_spark.operators.dedup import (
        lsh_band_buckets,
        minhash_signatures,
        shingles_col,
    )

    bench_buckets = lsh_band_buckets(minhash_signatures(benchmark)).select(
        F.col("doc_id").alias("bench_id"), "band", "bucket_key"
    )
    bb_rows = bench_buckets.collect()
    bb_schema = bench_buckets.schema
    bench_sh = benchmark.select(
        F.col("doc_id").alias("bench_id"),
        shingles_col(F.col("text")).alias("sh_b"),
    )
    bs_rows = bench_sh.collect()
    bs_schema = bench_sh.schema

    schema = "doc_id long, text string"
    raw = spark.readStream.schema(schema).parquet(stream_dir)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        ss = batch_df.sparkSession
        bb = ss.createDataFrame(bb_rows, bb_schema)
        bsh = ss.createDataFrame(bs_rows, bs_schema)
        sigs = minhash_signatures(batch_df)
        cands = (
            lsh_band_buckets(sigs)
            .join(F.broadcast(bb), ["band", "bucket_key"])
            .select("doc_id", "bench_id")
            .distinct()
        )
        csh = batch_df.select(
            "doc_id", shingles_col(F.col("text")).alias("sh_c")
        )
        joined = cands.join(csh, "doc_id").join(F.broadcast(bsh), "bench_id")
        inter = F.size(F.array_intersect(F.col("sh_c"), F.col("sh_b")))
        union = F.size("sh_c") + F.size("sh_b") - inter
        scored = joined.select(
            "doc_id", "bench_id", hround(inter / union, 6).alias("jaccard")
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.col("jaccard").desc(), F.col("bench_id").asc()
        )
        wc = Window.partitionBy("doc_id")
        report = (
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
        write_batch_idempotent(report, batch_id, out_dir)

    _drain(raw, score_batch, checkpoint_dir)
    return spark.read.parquet(out_dir)


def run_streaming_decontaminate_spans(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    benchmark: DataFrame,
) -> DataFrame:
    """Surgical span redaction on arrival — the streaming twin of
    operators/dedup.py::remove_benchmark_spans (round 8; completes the
    decontamination family's stream legs next to
    run_streaming_decontaminate_fuzzy): the benchmark window-id set is
    built ONCE offline (benchmark-sized), rebuilt per batch session and
    broadcast into each micro-batch's plan; every incoming document is
    rebuilt with its benchmark-overlapping token spans removed before it
    ever lands in the corpus. Redaction is per-doc against a static
    window-id set, so the union of batch outputs is ≡ the batch
    operator over the same documents (pinned by test), and the
    idempotent batch_id sink makes replays exact."""
    from pos_pipeline_core_etl_spark.operators.dedup import (
        benchmark_window_ids,
        redact_spans_with_wids,
    )

    wids = benchmark_window_ids(benchmark)
    wid_rows = wids.collect()  # benchmark-sized; rebuilt per batch session
    wid_schema = wids.schema

    schema = "doc_id long, text string"
    raw = spark.readStream.schema(schema).parquet(stream_dir)

    def redact_batch(batch_df: DataFrame, batch_id: int) -> None:
        bw = batch_df.sparkSession.createDataFrame(wid_rows, wid_schema)
        out = redact_spans_with_wids(batch_df.select("doc_id", "text"), bw)
        write_batch_idempotent(out, batch_id, out_dir)

    _drain(raw, redact_batch, checkpoint_dir)
    return spark.read.parquet(out_dir)


def run_streaming_lr_scores(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    weights: DataFrame,
) -> DataFrame:
    """Model serving on a document stream: score each micro-batch with
    a TRAINED logistic-regression weight row (broadcast into the batch
    plan — train offline with operators.classifier.logistic_gd, deploy
    here). Features are per-doc only, so scoring is stateless; the
    idempotent batch_id sink gives exactly-once. The union of batch
    outputs is proven ≡ batch lr_scores over all documents consumed
    (tests) — the train-offline / score-online deployment shape."""
    from pos_pipeline_core_etl_spark.operators.classifier import (
        lr_features,
        lr_scores,
    )

    w_rows = weights.collect()  # 1-row frame; rebuilt per batch session
    schema = "doc_id long, text string, lang string"
    raw = spark.readStream.schema(schema).parquet(stream_dir)

    def score_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df.sparkSession.createDataFrame(w_rows, weights.schema)
        scored = lr_scores(lr_features(batch_df), w)
        write_batch_idempotent(scored, batch_id, out_dir)

    _drain(raw, score_batch, checkpoint_dir)
    return spark.read.parquet(out_dir)


def er_link_batch(
    batch_df: DataFrame,
    batch_id: int,
    links_dir: str,
    key_index_dir: str,
    max_bucket_size: int = 50,
) -> None:
    """foreachBatch body for STREAMING INCREMENTAL ENTITY RESOLUTION
    (round 9): the maintainer of the link graph ``resolve_entities``'
    first stage derives in batch. Each micro-batch of (id, key) rows is
    blocked against the accumulated key index with depth-1 deletion
    variants, verified with exact levenshtein, and the resulting links
    appended — so the entity graph grows per arrival without ever
    re-blocking the corpus (never corpus × corpus; the one-sided join
    discipline of :func:`dedup_index_batch`).

    Two append-only parquet tables, partitioned by contributing batch:
    - ``key_index_dir``: (id, key, variant) — the exploded variant
      index new batches probe
    - ``links_dir``: (id_a, id_b) with id_a < id_b — batch↔prior and
      batch-internal verified links

    Cap semantics (documented divergence from the batch operator): the
    bucket cap is evaluated against the index state AT ARRIVAL TIME —
    prior-variant buckets already over ``max_bucket_size`` are skipped,
    like the batch cap, but links emitted BEFORE a bucket crossed the
    cap are append-only and keep their effect, where a batch-global cap
    would retroactively drop the whole bucket. Below the cap the two
    are exactly equivalent (test-pinned stream ≡ batch and 1-chunk ≡
    4-chunk on an under-cap fixture)."""
    from pos_pipeline_core_etl_spark.operators.fuzzy import deletion_variants_col

    spark = batch_df.sparkSession
    kv = batch_df.select(
        "id",
        "key",
        F.explode(deletion_variants_col("key", depth=1)).alias("variant"),
    ).localCheckpoint(eager=False)

    prior = _prior_partitions(spark, key_index_dir, batch_id)
    legs = []
    if prior is not None:
        pv = prior.select(
            F.col("id").alias("pid"), F.col("key").alias("pkey"), "variant"
        )
        ok = (
            pv.groupBy("variant")
            .agg(F.count_distinct("pid").alias("n"))
            .where(F.col("n") <= max_bucket_size)
            .select("variant")
        )
        cross = (
            kv.join(pv.join(ok, "variant"), "variant")
            .where(F.col("id") != F.col("pid"))
            .where(F.levenshtein("key", "pkey") <= 1)
            .select(
                F.least("id", "pid").alias("id_a"),
                F.greatest("id", "pid").alias("id_b"),
            )
        )
        legs.append(cross)
    a = kv.select(F.col("id").alias("ia"), F.col("key").alias("ka"), "variant")
    b = kv.select(F.col("id").alias("ib"), F.col("key").alias("kb"), "variant")
    bsz = (
        kv.groupBy("variant")
        .agg(F.count_distinct("id").alias("n"))
        .where(F.col("n") <= max_bucket_size)
        .select("variant")
    )
    inbatch = (
        a.join(b, "variant")
        .join(bsz, "variant", "left_semi")
        .where(F.col("ia") < F.col("ib"))
        .where(F.levenshtein("ka", "kb") <= 1)
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    legs.append(inbatch)
    links = legs[0]
    for leg in legs[1:]:
        links = links.unionByName(leg)
    write_batch_idempotent(links.distinct(), batch_id, links_dir)
    write_batch_idempotent(kv.select("id", "key", "variant"), batch_id, key_index_dir)


def run_streaming_entity_resolution(
    spark: SparkSession,
    stream_dir: str,
    links_dir: str,
    key_index_dir: str,
    checkpoint_dir: str,
    max_bucket_size: int = 50,
) -> DataFrame:
    """Streaming twin of the ER composition's blocking+components
    stages: drain a (id, key) stream through :func:`er_link_batch` with
    availableNow, then resolve the ACCUMULATED link graph with the
    batch-grade pointer-halved components and return (id, key,
    entity_id) — entity_id the min id of each connected cluster,
    exactly the stage-2 contract of
    operators/fuzzy.py::resolve_entities. Arrival order does not
    matter for the FINAL table (links are symmetric facts; components
    are order-free), which is what makes the chunking-invariance test
    meaningful rather than incidental."""
    from pos_pipeline_core_etl_spark.operators.dedup import connected_components

    raw = spark.readStream.schema("id long, key string").parquet(stream_dir)
    _drain(
        raw,
        lambda df, bid: er_link_batch(
            df, bid, links_dir, key_index_dir, max_bucket_size=max_bucket_size
        ),
        checkpoint_dir,
    )
    keys = spark.read.parquet(key_index_dir).select("id", "key").distinct()
    links = spark.read.parquet(links_dir)
    comps = connected_components(links.distinct(), src="id_a", dst="id_b")
    return keys.join(
        comps.select("id", "component_id"), "id", "left"
    ).select(
        "id", "key", F.coalesce("component_id", "id").alias("entity_id")
    )


def kmv_sketch_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    sketch_dir: str,
    group_col: str = "grp",
    key_col: str = "key",
    k: int = 64,
) -> None:
    """foreachBatch maintainer of a per-group KMV distinct-cardinality
    sketch: the associative merge of ``operators/sketches.py::
    kmv_merge_sketch`` played out over TIME instead of over shards.

    State is the LATEST sketch partition only — at most groups × k
    rows regardless of how much of the stream has been drained (the
    constant-size property that makes a cardinality sketch streamable
    at all).  Each batch:

    1. hashes its own DISTINCT (group, key) pairs (batch-sized work);
    2. unions them with the prior sketch and re-takes the k smallest
       per group (the KMV merge — union of top-ks contains the true
       top-k, so intermediate arrival order is irrelevant);
    3. writes the full new sketch under its own batch id (the module
       partition-state contract);
    4. snapshots the current per-group estimates to ``out_dir``.

    Stream ≡ batch and chunking invariance are pinned in
    tests/test_streaming.py::TestStreamingKMVSketch; the cross-engine
    value proof for the merge rule itself is the driver-checked
    ``sketch_kmv_merge`` oracle.
    """
    from pyspark.sql import Window

    from pos_pipeline_core_etl_spark.operators.sketches import (
        h60,
        kmv_estimate_col,
    )

    spark = batch_df.sparkSession
    batch_hashes = (
        batch_df.select(
            F.col(group_col).alias("grp"),
            h60(F.col(key_col).cast("string")).alias("h"),
        )
        .distinct()
    )
    latest = _latest_partition(sketch_dir, before=batch_id)
    if latest is not None:
        merged = (
            spark.read.parquet(latest)
            .select("grp", "h")
            .unionByName(batch_hashes)
            .distinct()
        )
    else:
        merged = batch_hashes
    w = Window.partitionBy("grp").orderBy("h")
    sk = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("grp", "h")
        .localCheckpoint(eager=True)
    )
    est = sk.groupBy("grp").agg(
        F.count("h").alias("n_vals"), F.max("h").alias("h_k")
    ).select(
        "grp",
        kmv_estimate_col(F.col("n_vals"), F.col("h_k"), k).alias("kmv_estimate"),
    )
    write_batch_idempotent(sk, batch_id, sketch_dir)
    write_batch_idempotent(est, batch_id, out_dir)


def run_streaming_kmv_sketch(
    spark: SparkSession,
    stream_dir: str,
    out_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    group_col: str = "grp",
    key_col: str = "key",
    k: int = 64,
    schema: str = "grp string, key long",
) -> DataFrame:
    """Drain a (group, key) parquet stream through
    :func:`kmv_sketch_batch` with availableNow, then return the FINAL
    per-group estimate snapshot (the highest batch_id partition — the
    state after the whole stream, which the tests assert equals the
    one-shot batch estimate on the same rows)."""
    _drain(
        _chunked_stream(spark, schema, stream_dir),
        lambda df, bid: kmv_sketch_batch(
            df, bid, out_dir, sketch_dir, group_col, key_col, k
        ),
        checkpoint_dir,
    )
    # the snapshot always carries (grp, kmv_estimate) — the maintainer
    # aliases group_col to "grp"
    return _final_state(spark, out_dir, "grp string, kmv_estimate double")


def cms_counter_batch(
    batch_df: DataFrame,
    batch_id: int,
    counter_dir: str,
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
) -> None:
    """foreachBatch maintainer of a Count-Min counter table — the
    frequency analog of :func:`kmv_sketch_batch` (VERDICT r10 #9).

    The CMS merge is elementwise ADDITION by construction (each counter
    is a sum over rows, and the micro-batches partition the row
    multiset), so folding a batch in is: build the batch's own
    depth×width counter table (batch-sized work, bounded output), union
    with the latest accumulated table, and re-sum per (d, b) cell.
    State is the latest counter partition only — at most depth×width
    rows regardless of drained volume, kept under the module
    partition-state contract.

    Stream ≡ batch and chunking invariance are pinned in
    tests/test_streaming.py::TestStreamingCms with the same
    maxFilesPerTrigger=1 multi-batch drain guard that keeps the KMV
    proof non-vacuous."""
    from pos_pipeline_core_etl_spark.operators.sketches import cms_counters

    spark = batch_df.sparkSession
    batch_counters = cms_counters(batch_df, key_col, depth, width)
    latest = _latest_partition(counter_dir, before=batch_id)
    if latest is not None:
        merged = (
            spark.read.parquet(latest)
            .unionByName(batch_counters)
            .groupBy("d", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = batch_counters
    write_batch_idempotent(merged.localCheckpoint(eager=True), batch_id, counter_dir)


def run_streaming_cms_sketch(
    spark: SparkSession,
    stream_dir: str,
    counter_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
    schema: str = "grp string, key long",
) -> DataFrame:
    """Drain a keyed parquet stream through :func:`cms_counter_batch`
    with availableNow and return the FINAL (d, b, cnt) counter table —
    which the tests assert equals the one-shot batch
    ``cms_counters`` on the same rows, cell for cell."""
    _drain(
        _chunked_stream(spark, schema, stream_dir),
        lambda df, bid: cms_counter_batch(
            df, bid, counter_dir, key_col, depth, width
        ),
        checkpoint_dir,
    )
    return _final_state(spark, counter_dir, "d int, b bigint, cnt bigint")


def hist_counter_batch(
    batch_df: DataFrame,
    batch_id: int,
    counter_dir: str,
    value_col: str = "v",
    mn: float = 0.0,
    mx: float = 1.0,
    buckets: int = 256,
) -> None:
    """foreachBatch maintainer of a fixed-bound histogram counter table
    — the quantile analog of :func:`cms_counter_batch`, completing the
    sketch-maintainer family (KMV order-statistics, CMS frequencies,
    histogram quantiles).

    Bounds are PINNED at maintainer creation because a stream cannot
    know its global min/max up front — the standard fixed-bound
    histogram contract (:func:`operators.sketches.hist_counters_fixed`;
    out-of-range values clamp into the edge buckets, so the state never
    grows and merges stay cell-aligned).  The merge is elementwise
    ADDITION by construction — each bucket count is a sum over rows and
    the micro-batches partition the row multiset — so folding a batch
    in is: bucket the batch (batch-sized work, ≤``buckets``-row
    output), union with the latest accumulated table, re-sum per cell.
    State is the latest counter partition only, kept under the module
    partition-state contract.

    Stream ≡ batch and chunking invariance are pinned in
    tests/test_streaming.py::TestStreamingHist with the same
    maxFilesPerTrigger=1 multi-batch drain guard that keeps the KMV and
    CMS proofs non-vacuous."""
    from pos_pipeline_core_etl_spark.operators.sketches import (
        hist_counters_fixed,
    )

    spark = batch_df.sparkSession
    batch_counters = hist_counters_fixed(batch_df, value_col, mn, mx, buckets)
    latest = _latest_partition(counter_dir, before=batch_id)
    if latest is not None:
        merged = (
            spark.read.parquet(latest)
            .unionByName(batch_counters)
            .groupBy("b")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = batch_counters
    write_batch_idempotent(merged.localCheckpoint(eager=True), batch_id, counter_dir)


def run_streaming_hist_sketch(
    spark: SparkSession,
    stream_dir: str,
    counter_dir: str,
    checkpoint_dir: str,
    value_col: str = "v",
    mn: float = 0.0,
    mx: float = 1.0,
    buckets: int = 256,
    schema: str = "grp string, v double",
) -> DataFrame:
    """Drain a parquet stream through :func:`hist_counter_batch` with
    availableNow and return the FINAL (b, cnt) counter table — which
    the tests assert equals the one-shot ``hist_counters_fixed`` on the
    same rows, cell for cell (the mergeability proof, streamed)."""
    _drain(
        _chunked_stream(spark, schema, stream_dir),
        lambda df, bid: hist_counter_batch(
            df, bid, counter_dir, value_col, mn, mx, buckets
        ),
        checkpoint_dir,
    )
    return _final_state(spark, counter_dir, "b bigint, cnt bigint")


def hist_grouped_counter_batch(
    batch_df: DataFrame,
    batch_id: int,
    counter_dir: str,
    group_col: str = "grp",
    value_col: str = "v",
    mn: float = 0.0,
    mx: float = 1.0,
    buckets: int = 256,
) -> None:
    """Per-group twin of :func:`hist_counter_batch` (VERDICT r11 #8):
    the counter state is keyed by ``(g, b)`` — one fixed-bound
    histogram PER GROUP, all sharing the caller-pinned ``[mn, mx]``
    span (a stream can't learn per-group bounds any more than global
    ones, and shared bounds keep merges cell-aligned).  The merge is
    still elementwise addition, now per ``(g, b)`` cell; state is
    ``groups × buckets`` rows, so the group column must be an enum-
    bounded key by contract (the ``hist_quantiles_grouped``
    cardinality rule).  Module partition-state contract; clamp and
    stream ≡ batch proven in
    tests/test_streaming.py::TestStreamingHistGrouped under the
    maxFilesPerTrigger=1 multi-batch drain guard."""
    from pos_pipeline_core_etl_spark.operators.sketches import (
        hist_counters_fixed_grouped,
    )

    spark = batch_df.sparkSession
    batch_counters = hist_counters_fixed_grouped(
        batch_df, group_col, value_col, mn, mx, buckets
    )
    latest = _latest_partition(counter_dir, before=batch_id)
    if latest is not None:
        merged = (
            spark.read.parquet(latest)
            .unionByName(batch_counters)
            .groupBy("g", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = batch_counters
    write_batch_idempotent(merged.localCheckpoint(eager=True), batch_id, counter_dir)


def run_streaming_hist_grouped_sketch(
    spark: SparkSession,
    stream_dir: str,
    counter_dir: str,
    checkpoint_dir: str,
    group_col: str = "grp",
    value_col: str = "v",
    mn: float = 0.0,
    mx: float = 1.0,
    buckets: int = 256,
    schema: str = "grp string, v double",
) -> DataFrame:
    """Drain a parquet stream through :func:`hist_grouped_counter_batch`
    with availableNow and return the FINAL ``(g, b, cnt)`` counter
    table — asserted equal to the one-shot
    ``hist_counters_fixed_grouped`` on the same rows, cell for cell."""
    _drain(
        _chunked_stream(spark, schema, stream_dir),
        lambda df, bid: hist_grouped_counter_batch(
            df, bid, counter_dir, group_col, value_col, mn, mx, buckets
        ),
        checkpoint_dir,
    )
    return _final_state(spark, counter_dir, "g string, b bigint, cnt bigint")


def priority_sketch_batch(
    batch_df: DataFrame,
    batch_id: int,
    sketch_dir: str,
    totals_dir: str,
    key_col: str = "key",
    weight_col: str = "w",
    k: int = 64,
) -> None:
    """foreachBatch maintainer of a PRIORITY-SAMPLING sketch (round 12
    — the weighted member joining the KMV / CMS / histogram
    maintainers): per batch, rank the batch's rows by the DLT priority
    ``w/u``, merge with the prior top-(k+1) state, and re-take the
    top-(k+1) — valid because the top-(k+1) of a union is inside the
    union of top-(k+1)s, the same argument as the KMV merge.  State is
    TWO mergeable parts, each bounded:

    - the ranked sketch: at most k+1 ``(h, w, pr, rn)`` rows;
    - the exact totals: ONE ``(n_rows, w_exact)`` row — a pure counter
      (exact totals over a stream cannot dedup without unbounded
      state, so the maintainer's contract is per-ROW observations;
      batches partition the row multiset).

    Both follow the module partition-state contract.  The final
    readout reassembles the summary through the SAME
    ``sketches.priority_summary_from_parts`` the one-shot operator
    uses, so stream ≡ batch is an identity of parts, not a parallel
    implementation."""
    from pos_pipeline_core_etl_spark.operators.sketches import (
        h60,
        priority_col,
    )

    spark = batch_df.sparkSession
    rows = batch_df.where(
        F.col(key_col).isNotNull()
        & F.col(weight_col).isNotNull()
        & (F.col(weight_col).cast("double") > 0)
    ).select(
        h60(F.col(key_col).cast("string")).alias("h"),
        F.col(weight_col).cast("double").alias("w"),
    )
    from pos_pipeline_core_etl_spark.operators.sketches import two_level_rank

    # the batch's own top-(k+1), selected DISTRIBUTEDLY (per-shard rank
    # then a rank over the bounded shards×(k+1) union) before anything
    # touches the single-partition merge below — a corpus-sized batch
    # never meets an unpartitioned window
    batch_sk = two_level_rank(
        rows.withColumn("pr", priority_col()),
        [F.desc("pr"), F.col("h")],
        k + 1,
        shard_col=F.col("h"),
    ).select("h", "w", "pr")
    batch_tot = rows.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum("w"), F.lit(0.0)).alias("w_exact"),
    )

    latest_sk = _latest_partition(sketch_dir, before=batch_id)
    if latest_sk is not None:
        merged = (
            spark.read.parquet(latest_sk)
            .select("h", "w", "pr")
            .unionByName(batch_sk)
        )
    else:
        merged = batch_sk
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.col("pr").desc(), F.col("h").asc())
    # the union is at most 2(k+1) rows (prior state + the batch's own
    # pre-pruned top-(k+1)), so this unpartitioned rank is over a
    # CONSTANT-bounded frame — the documented exemption class
    sk = (
        merged.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k + 1)
        .localCheckpoint(eager=True)
    )
    latest_tot = _latest_partition(totals_dir, before=batch_id)
    if latest_tot is not None:
        prior_tot = spark.read.parquet(latest_tot)
        tot = (
            prior_tot.unionByName(batch_tot)
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("w_exact").alias("w_exact"),
            )
            .localCheckpoint(eager=True)
        )
    else:
        tot = batch_tot.localCheckpoint(eager=True)
    write_batch_idempotent(sk, batch_id, sketch_dir)
    write_batch_idempotent(tot, batch_id, totals_dir)


def run_streaming_priority_sample(
    spark: SparkSession,
    stream_dir: str,
    sketch_dir: str,
    totals_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
    weight_col: str = "w",
    k: int = 64,
    schema: str = "key long, w double",
) -> DataFrame:
    """Drain a (key, weight) parquet stream through
    :func:`priority_sketch_batch` with availableNow and return the
    final DLT summary row — assembled from the drained state by the
    SAME ``priority_summary_from_parts`` the one-shot operator uses,
    which the tests assert equals the one-shot summary on the same
    rows."""
    from pos_pipeline_core_etl_spark.operators.sketches import (
        priority_summary_from_parts,
    )

    _drain(
        _chunked_stream(spark, schema, stream_dir),
        lambda df, bid: priority_sketch_batch(
            df, bid, sketch_dir, totals_dir, key_col, weight_col, k
        ),
        checkpoint_dir,
    )
    ranked = _latest_partition(sketch_dir)
    exact = _latest_partition(totals_dir)
    if ranked is None or exact is None:
        return spark.createDataFrame(
            [],
            "n_rows long, sample_k int, n_sample long, n_heavy long, "
            "tau double, w_total_exact double, w_total_estimate double, "
            "rel_err double",
        )
    return priority_summary_from_parts(
        spark.read.parquet(exact), spark.read.parquet(ranked), k
    )


def bloom_word_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_dir: str,
    key_col: str = "key",
    words: int = 128,
    n_hashes: int = 4,
) -> None:
    """foreachBatch body for the streaming Bloom membership maintainer
    (round 12, joining the KMV/CMS/histogram/priority maintainer
    family): state is the dense ``(word_idx, word)`` table — ``words``
    BIGINTs total, constant regardless of stream length — and the
    merge is elementwise ``bit_or``, which is associative, commutative
    AND idempotent, so a replayed batch cannot even transiently skew
    the state (strictly stronger than the counter maintainers, whose
    convergence relies on the per-batch-id overwrite alone).  Module
    partition-state contract; stream ≡ batch proven in
    tests/test_streaming.py::TestStreamingBloom under the
    maxFilesPerTrigger=1 multi-batch drain guard."""
    from pos_pipeline_core_etl_spark.operators.sketches import bloom_words

    spark = batch_df.sparkSession
    batch_words = bloom_words(batch_df, key_col, words, n_hashes)
    latest = _latest_partition(state_dir, before=batch_id)
    if latest is not None:
        merged = (
            spark.read.parquet(latest)
            .unionByName(batch_words)
            .groupBy("word_idx")
            .agg(F.bit_or("word").alias("word"))
        )
    else:
        merged = batch_words
    write_batch_idempotent(merged.localCheckpoint(eager=True), batch_id, state_dir)


def run_streaming_bloom_sketch(
    spark: SparkSession,
    stream_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    key_col: str = "key",
    words: int = 128,
    n_hashes: int = 4,
    schema: str = "key bigint",
) -> DataFrame:
    """Drain a parquet stream through :func:`bloom_word_batch` with
    availableNow and return the FINAL ``(word_idx, word)`` table —
    asserted equal to the one-shot ``bloom_words`` on the same rows,
    bit for bit."""
    _drain(
        _chunked_stream(spark, schema, stream_dir),
        lambda df, bid: bloom_word_batch(
            df, bid, state_dir, key_col, words, n_hashes
        ),
        checkpoint_dir,
    )
    return _final_state(spark, state_dir, "word_idx bigint, word bigint")


def rollup_cascade_batch(
    batch_df: DataFrame,
    batch_id: int,
    counter_dir: str,
    sketch_dir: str,
    ts_col: str = "ts",
    type_col: str = "event_type",
    user_col: str = "user_id",
    value_col: str = "value",
    k: int = 16,
) -> None:
    """foreachBatch maintainer of the hypertable cascade rollup
    (round 12): the CONTINUOUS form of ``events_rollup_cascade`` — a
    streaming materialized view of the day grain, folded micro-batch
    by micro-batch instead of minute→hour→day.

    Two co-located state tables (the dedup maintainer's two-dir
    precedent), both bounded by the CELL count (days × types), never
    by stream length:

    - counters: (day, event_type, cnt, sv) — each batch aggregates its
      own rows to cell-grain partials (batch-sized work, map-side
      combine), then one keyed sum against the prior state;
    - sketch: (day, event_type, h, rn ≤ k) — the per-cell KMV state:
      batch hashes pre-pruned to their own per-cell k-smallest BEFORE
      the union with prior state, so the merge rank is over ≤ 2k rows
      per cell (the ``kmv_sketch_batch`` shape at rollup grain).

    The maintained view serves n_events / sum_value / users_kmv.  It
    deliberately does NOT serve ``n_users_exact``: an exact distinct
    over a stream needs per-cell key SETS (unbounded state) — the
    sketch IS the bounded answer, and the one-shot query reports both
    precisely so the estimator error stays visible where the exact
    count is still affordable.  Per-row observation contract and
    the module partition-state contract as in the sibling maintainers;
    stream ≡ batch and chunking invariance pinned in
    tests/test_streaming.py::TestStreamingRollup."""
    from pyspark.sql import Window

    from pos_pipeline_core_etl_spark.operators.sketches import h60

    spark = batch_df.sparkSession
    cell = [F.to_date(ts_col).alias("day"), F.col(type_col).alias("event_type")]

    batch_counters = batch_df.groupBy(*cell).agg(
        F.count("*").alias("cnt"), F.sum(value_col).alias("sv")
    )
    latest = _latest_partition(counter_dir, before=batch_id)
    if latest is not None:
        merged_c = (
            spark.read.parquet(latest)
            .unionByName(batch_counters)
            .groupBy("day", "event_type")
            .agg(F.sum("cnt").alias("cnt"), F.sum("sv").alias("sv"))
        )
    else:
        merged_c = batch_counters

    w_cell = Window.partitionBy("day", "event_type").orderBy("h")
    batch_sketch = (
        batch_df.where(F.col(user_col).isNotNull())
        .select(*cell, h60(F.col(user_col).cast("string")).alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(w_cell))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )
    latest = _latest_partition(sketch_dir, before=batch_id)
    if latest is not None:
        union = (
            spark.read.parquet(latest)
            .select("day", "event_type", "h")
            .unionByName(batch_sketch)
            .distinct()  # a user seen in prior batches re-hashes identically
        )
    else:
        union = batch_sketch
    merged_s = union.withColumn("rn", F.row_number().over(w_cell)).filter(
        F.col("rn") <= k
    )

    write_batch_idempotent(
        merged_c.localCheckpoint(eager=True), batch_id, counter_dir
    )
    write_batch_idempotent(
        merged_s.localCheckpoint(eager=True), batch_id, sketch_dir
    )


def run_streaming_rollup(
    spark: SparkSession,
    stream_dir: str,
    counter_dir: str,
    sketch_dir: str,
    checkpoint_dir: str,
    k: int = 16,
    schema: str = "ts timestamp, user_id bigint, event_type string, value double",
) -> DataFrame:
    """Drain a parquet event stream through :func:`rollup_cascade_batch`
    with availableNow and assemble the FINAL day-grain serving view
    (day, event_type, n_events, sum_value, users_kmv) from the two
    state tables — asserted cell-for-cell against the one-shot cascade
    on the same rows (sums exactly, estimates bit-for-bit)."""
    from pos_pipeline_core_etl_spark.operators.sketches import kmv_estimate_col

    _drain(
        _chunked_stream(spark, schema, stream_dir),
        lambda df, bid: rollup_cascade_batch(
            df, bid, counter_dir, sketch_dir, k=k
        ),
        checkpoint_dir,
    )
    c_part, s_part = _latest_partition(counter_dir), _latest_partition(sketch_dir)
    if c_part is None:
        return spark.createDataFrame(
            [],
            "day date, event_type string, n_events bigint, "
            "sum_value double, users_kmv double",
        )
    counters = spark.read.parquet(c_part)
    sk = (
        spark.read.parquet(s_part)
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n_vals"), F.max("h").alias("h_k"))
    )
    return counters.join(sk, ["day", "event_type"], "left").select(
        "day",
        "event_type",
        F.col("cnt").alias("n_events"),
        F.col("sv").alias("sum_value"),
        kmv_estimate_col(
            F.coalesce("n_vals", F.lit(0)), F.coalesce("h_k", F.lit(0)), k
        ).alias("users_kmv"),
    )


def cms_grouped_counter_batch(
    batch_df: DataFrame,
    batch_id: int,
    counter_dir: str,
    group_col: str = "grp",
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
) -> None:
    """Per-group twin of :func:`cms_counter_batch` (round 12,
    completing the grouped column of the maintainer matrix alongside
    the grouped histogram): counter state keyed by ``(g, d, b)`` —
    one independent CMS per group, merged by elementwise addition per
    cell.  State is ``groups × depth × width`` rows, so the group
    column must be an enum-bounded key by contract (the
    ``hist_quantiles_grouped`` cardinality rule — and as in the
    one-shot :func:`~pos_pipeline_core_etl_spark.operators.sketches.
    cms_counters_grouped`, nothing here forces a broadcast).  Module
    partition-state contract; stream ≡ batch and group
    isolation proven in
    tests/test_streaming.py::TestStreamingCMSGrouped under the
    maxFilesPerTrigger=1 multi-batch drain guard."""
    from pos_pipeline_core_etl_spark.operators.sketches import (
        cms_counters_grouped,
    )

    spark = batch_df.sparkSession
    batch_counters = cms_counters_grouped(
        batch_df, group_col, key_col, depth, width
    )
    latest = _latest_partition(counter_dir, before=batch_id)
    if latest is not None:
        merged = (
            spark.read.parquet(latest)
            .unionByName(batch_counters)
            .groupBy("g", "d", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
    else:
        merged = batch_counters
    write_batch_idempotent(merged.localCheckpoint(eager=True), batch_id, counter_dir)


def run_streaming_cms_grouped_sketch(
    spark: SparkSession,
    stream_dir: str,
    counter_dir: str,
    checkpoint_dir: str,
    group_col: str = "grp",
    key_col: str = "key",
    depth: int = 4,
    width: int = 256,
    schema: str = "grp string, key long",
) -> DataFrame:
    """Drain a parquet stream through :func:`cms_grouped_counter_batch`
    with availableNow and return the FINAL ``(g, d, b, cnt)`` counter
    table — asserted equal to the one-shot ``cms_counters_grouped`` on
    the same rows, cell for cell."""
    _drain(
        _chunked_stream(spark, schema, stream_dir),
        lambda df, bid: cms_grouped_counter_batch(
            df, bid, counter_dir, group_col, key_col, depth, width
        ),
        checkpoint_dir,
    )
    return _final_state(spark, counter_dir, "g string, d int, b bigint, cnt bigint")
