#!/usr/bin/env python
"""Scale ladder: wall time of the engine's operators as inputs grow.

The engine runs on one box, so its scale evidence is a ladder of input
sizes.  File notches are the sf0.1 fixtures (1x) and their 10x/30x/100x
replicas under /tmp/spark_graft_sf{1,3,10}, built by
tools/make_scaled_bench.py (see its docstring for the 30x/100x
commands).  Synthetic notches are frames generated in the session.

Each scenario prints one JSON line per (leg, notch) with wall seconds
and result rows.  A file notch whose directory is absent prints
``{"leg", "notch", "skipped": "fixture missing: <path>"}`` instead, and
the run goes on.  Timings are single-shot and warm (legs run once
untimed on the smallest fixture first where the old rounds did): shape,
not decimals, is the claim.

Usage:
    python tools/ladder.py --list
    python tools/ladder.py <scenario> [args] | tee -a LADDER_rNN.jsonl

Scenarios and the committed rows they reproduce (leg names and numeric
keys are unchanged, so a new run diffs against the old file):

    queries NAME,...  every named registry query per file notch; leg = query
                      name, keys notch/sec/rows.  The round sweeps were:
        round 7 (no committed file):
            python tools/ladder.py queries text_decontaminate_fuzzy,corpus_compaction_plan,events_zorder_files,events_zorder_pruning,sim_ivfpq_recall_sweep
        LADDER_r8.jsonl:
            python tools/ladder.py queries fuzzy_part_phonetic_pairs,fuzzy_part_pairs_d2_scoped,corpus_decon_decisions,corpus_build_manifest_decon,graph_part_triangles,graph_part_pagerank
        LADDER_r9.jsonl:
            python tools/ladder.py queries graph_part_pagerank,graph_part_pagerank_tol,graph_part_triangles,graph_part_kcore,graph_part_neighbor_jaccard,fuzzy_part_entities_final,fuzzy_part_entities_recall
        LADDER_r9.jsonl, second pass:
            python tools/ladder.py queries graph_part_components,docs_dsir_weights,docs_lr_calibration
    fuzzy        fuzzy_d1, fuzzy_d2 (round 7): full-table key pairs on
                 sequential name tables of 15K/150K/1.5M keys.
    scoped_d2    fuzzy_d2_scoped, fuzzy_d2_scoped_clustered,
                 fuzzy_d2_full_clustered (LADDER_r8).
    triangles    triangles_oriented_hub, triangles_plain_hub (LADDER_r9).
    er [N ...]   er_resolve_entities (LADDER_r9..r12) on N-cluster
                 duplicates-dense fixtures, 15 keys per cluster.
                 Default N = 300000 2000000 (round 12); r9 ran
                 10000 100000, r10 100000 1000000, r11 300000 1000000.
                 Runs past 4.5M keys used SPARK_GRAFT_DRIVER_MEM=64g.
    er_union [N ...]
                 er_union_pairs_only (LADDER_r9, r10): the blocking union
                 alone, same fixture.  Default N = 100000 1000000
                 (round 10); r9 ran 10000 100000.  Rounds 9 and 10 ran
                 ``er_union N ...`` and ``er N ...`` with the same N.
                 Either ER scenario prints a ``boundary`` row for a
                 failed notch and exits 1.
    s2           s2_edge_build_alone, kcore_cold_pays_build,
                 kcore_warm_loop_cost, components_warm_loop_cost,
                 s2_edges_query_warm (LADDER_r10).
    wedge_cap    neighbor_jaccard_capped_hub, wedge_overflow_hub,
                 neighbor_jaccard_uncapped_hub (LADDER_r10).
    semdedup     semdedup_sqrtk (LADDER_r10).
    kmv          kmv_vs_exact (LADDER_r10).
    ivfpq        ivfpq_train_once, ivfpq_query_path, ivfpq_composed_oneshot
                 (LADDER_r11).
    hist         hist_quantile_vs_exact, hist_quantile_grouped_vs_exact
                 (LADDER_r11).
    bloom        bloom_probe_vs_exact (LADDER_r12).
    rollup       rollup_serving_vs_raw (LADDER_r12).
"""

from __future__ import annotations

import inspect
import json
import math
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from __spark_entry__ import SMOKE_SF_DIR  # noqa: E402

WARM_DIR = SMOKE_SF_DIR
NOTCHES = {
    "1x(sf0.1)": os.path.join(os.path.dirname(SMOKE_SF_DIR), "sf0.1"),
    "10x": "/tmp/spark_graft_sf1",
    "30x": "/tmp/spark_graft_sf3",
    "100x": "/tmp/spark_graft_sf10",
}
MEMBERS = 15  # keys per cluster in the clustered ER fixture
# synthetic notches, as the rounds that committed their rows ran them
FUZZY_KEYS = (15_000, 150_000, 1_500_000)
SCOPED_CLUSTERS = (10_000, 100_000)
TRIANGLE_SHAPES = ((4, 2_000), (8, 6_000), (8, 20_000))  # (hubs, spokes)
ER_CLUSTERS = (300_000, 2_000_000)  # round 12
ER_UNION_CLUSTERS = (100_000, 1_000_000)  # round 10
HUB_DEGREES = (2_000, 20_000, 63_000)
BLOOM_BUILD_KEYS = (1_000_000, 4_000_000, 10_000_000)
BLOOM_PROBE_ROWS = 8_000_000
ROLLUP_RAW_ROWS = (1_000_000, 8_000_000, 32_000_000)
# (leg, registry query) timed per notch after the bare support-2 edge build
S2_LEGS = (
    ("kcore_cold_pays_build", "graph_part_kcore"),
    ("kcore_warm_loop_cost", "graph_part_kcore"),
    ("components_warm_loop_cost", "graph_part_components"),
    ("s2_edges_query_warm", "graph_part_s2_edges"),
)


# --- shared pieces -----------------------------------------------------------

def emit(**row) -> None:
    print(json.dumps(row), flush=True)


def timed(action):
    """Run ``action()``; return (wall seconds, its result)."""
    t0 = time.perf_counter()
    out = action()
    return round(time.perf_counter() - t0, 3), out


def present(leg: str, notches: dict[str, str]):
    """Yield the (notch, path) pairs whose fixture exists; print a
    ``skipped`` row for each one that does not."""
    for notch, path in notches.items():
        if os.path.isdir(path):
            yield notch, path
        else:
            emit(leg=leg, notch=notch, skipped=f"fixture missing: {path}")


def read(spark, sf_dir: str, table: str):
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def names(spark, n: int):
    """n sequential TPC-H-shape customer names: DISTINCT entities packed
    tightly in key space."""
    return spark.range(n).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
    )


def clustered(spark, n_clusters: int):
    """Duplicates-dense names: clusters of MEMBERS typo variants around
    well-separated bases, the density real dedup sees.  Bases collide
    mod 1e7, so blocking densifies with n."""
    base = (F.floor(F.col("id") / MEMBERS) * 7919) % 10_000_000
    return spark.range(n_clusters * MEMBERS).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", base * 100 + F.col("id") % MEMBERS).alias("c_name"),
    )


def hub_graph(spark, n_hubs: int, spokes: int):
    """Hubs sitting MID-WAY in the id order, each adjacent to spokes/2 ids
    below and spokes/2 above it, plus a ring that closes real triangles.
    The plain a<b<c join's intermediate is ~n_hubs * (spokes/2)^2 wedges
    through the hubs; oriented, every spoke points AT its hub."""
    half = spark.range(spokes // 2).withColumnRenamed("id", "k")
    hubs = spark.range(n_hubs).select((F.col("id") * (spokes + 1) + spokes // 2 + 1).alias("hub"))
    lo = hubs.join(half, how="cross").select(
        (F.col("hub") - F.col("k") - 1).alias("src"), F.col("hub").alias("dst"))
    hi = hubs.join(half, how="cross").select(
        F.col("hub").alias("src"), (F.col("hub") + F.col("k") + 1).alias("dst"))
    ring = spark.range(n_hubs * (spokes + 1) + spokes - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    return lo.unionByName(hi).unionByName(ring).distinct()


def hub_star(spark, h: int, connectors: int = 200):
    """Hub 0 adjacent to 1..h; connector h+1+c links spokes 2c+1 and 2c+2,
    so the capped form still has low-degree work to do."""
    hub = spark.range(1, h + 1).select(F.lit(0).cast("long").alias("src"), F.col("id").alias("dst"))
    conn = spark.range(connectors).select((F.col("id") + h + 1).alias("src"), F.col("id").alias("c"))
    spoke_a = conn.select("src", (F.col("c") * 2 + 1).alias("dst"))
    spoke_b = conn.select("src", (F.col("c") * 2 + 2).alias("dst"))
    return hub.unionByName(spoke_a).unionByName(spoke_b).distinct()


def events(spark, n: int):
    """n events over a fixed 30-day x 24-hour x 5-type cell domain."""
    base = 1_709_251_200  # 2024-03-01 00:00:00 UTC
    return spark.range(n).select(
        F.timestamp_seconds(F.lit(base) + (F.col("id") * 977) % (30 * 86_400)).alias("ts"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias("event_type"),
        ((F.col("id") * 13) % 1_000).cast("double").alias("value"),
    ).repartition(32)


# --- scenarios ---------------------------------------------------------------

def queries(spark, names_csv: str, *, qs=None, notches=NOTCHES) -> None:
    """Registry queries NAME,... per file notch (round 7/8/9 sweeps)."""
    if qs is None:
        from pos_pipeline_core_etl_spark import registry

        qs = registry.all_queries()
    legs = names_csv.split(",")
    unknown = [q for q in legs if q not in qs]
    if unknown:
        raise SystemExit(f"unknown registry queries: {', '.join(unknown)}")
    for leg in legs:
        qs[leg](spark, WARM_DIR).count()
    for leg in legs:
        for notch, path in present(leg, notches):
            sec, rows = timed(lambda: qs[leg](spark, path).count())
            emit(leg=leg, notch=notch, sec=sec, rows=rows)


def fuzzy_d1_d2(spark) -> None:
    """fuzzy_d1/fuzzy_d2 full-table key pairs on sequential names (round 7)."""
    from pos_pipeline_core_etl_spark.operators import fuzzy

    for n in FUZZY_KEYS:
        df = names(spark, n)
        for dist, cap in ((1, fuzzy.FUZZY_MAX_BUCKET), (2, fuzzy.FUZZY_D2_MAX_BUCKET)):
            sec, pairs = timed(lambda: fuzzy.fuzzy_key_pairs(
                df, "c_custkey", "c_name", max_distance=dist, max_bucket_size=cap).count())
            emit(leg=f"fuzzy_d{dist}", keys=n, sec=sec, pairs=pairs)


def scoped_d2(spark) -> None:
    """Cluster-scoped d2 on dense and clustered names, next to full d2 (LADDER_r8)."""
    from pos_pipeline_core_etl_spark.operators import fuzzy

    fuzzy.cluster_scoped_pairs_d2(names(spark, 1000), "c_custkey", "c_name").count()
    for n in FUZZY_KEYS:
        df = names(spark, n)
        sec, pairs = timed(lambda: fuzzy.cluster_scoped_pairs_d2(df, "c_custkey", "c_name").count())
        emit(leg="fuzzy_d2_scoped", keys=n, sec=sec, pairs=pairs)
    for n in SCOPED_CLUSTERS:
        df = clustered(spark, n)
        sec, pairs = timed(lambda: fuzzy.cluster_scoped_pairs_d2(df, "c_custkey", "c_name").count())
        emit(leg="fuzzy_d2_scoped_clustered", keys=n * MEMBERS, sec=sec, pairs=pairs)
    # full-table d2 on the largest clustered fixture: the composition's
    # same-fixture comparator (it must emit every within-cluster pair)
    df = clustered(spark, SCOPED_CLUSTERS[-1])
    sec, pairs = timed(lambda: fuzzy.fuzzy_key_pairs(
        df, "c_custkey", "c_name", max_distance=2,
        max_bucket_size=fuzzy.FUZZY_D2_MAX_BUCKET).count())
    emit(leg="fuzzy_d2_full_clustered", keys=SCOPED_CLUSTERS[-1] * MEMBERS, sec=sec, pairs=pairs)


def triangles(spark) -> None:
    """Plain vs degree-ordered triangle counting on a mid-id hub graph (LADDER_r9)."""
    from pos_pipeline_core_etl_spark.operators import graph

    for n_hubs, spokes in TRIANGLE_SHAPES:
        edges = hub_graph(spark, n_hubs, spokes).localCheckpoint(eager=True)
        rec = {"hubs": n_hubs, "spokes": spokes, "edges": edges.count()}
        sec, rows = timed(lambda: graph.triangle_counts_oriented(edges).count())
        emit(leg="triangles_oriented_hub", **rec, sec=sec, rows=rows)
        if n_hubs * (spokes // 2) ** 2 > 4 * 10**8:
            emit(leg="triangles_plain_hub", **rec, sec=None,
                 skipped="plain wedge intermediate > 4e8 rows")
            continue
        sec_p, rows_p = timed(lambda: graph.triangle_counts(edges).count())
        assert rows_p == rows, (rows_p, rows)
        emit(leg="triangles_plain_hub", **rec, sec=sec_p, rows=rows_p)


def _er_ladder(spark, leg: str, counts, action, result_key: str) -> None:
    """Time ``action(clustered(n)).count()`` per cluster count n."""
    action(clustered(spark, 500)).count()
    for n in counts:
        df, keys = clustered(spark, n), n * MEMBERS
        try:
            sec, out = timed(lambda: action(df).count())
        except Exception as e:  # a resource wall is this notch's result; not retried smaller
            traceback.print_exc()
            emit(leg=leg, keys=keys, boundary=f"{type(e).__name__}: {str(e)[:400]}")
            raise SystemExit(1) from e
        emit(leg=leg, keys=keys, sec=sec, **{result_key: out})


def er(spark, *clusters: int) -> None:
    """resolve_entities on clustered names (LADDER_r9..r12)."""
    from pos_pipeline_core_etl_spark.operators import fuzzy

    _er_ladder(spark, "er_resolve_entities", clusters or ER_CLUSTERS,
               lambda df: fuzzy.resolve_entities(df, "c_custkey", "c_name"), "rows")


def er_union(spark, *clusters: int) -> None:
    """Blocking-union pairs alone on clustered names (LADDER_r9, r10)."""
    from pos_pipeline_core_etl_spark.operators import fuzzy

    _er_ladder(spark, "er_union_pairs_only", clusters or ER_UNION_CLUSTERS,
               lambda df: fuzzy.union_blocking_pairs(df, "c_custkey", "c_name"), "pairs")


def s2_edges(spark) -> None:
    """Shared support-2 edge build vs its cold and warm consumers (LADDER_r10)."""
    from pos_pipeline_core_etl_spark import registry
    from pos_pipeline_core_etl_spark.plans import analytics

    qs = registry.all_queries()
    qs["graph_part_kcore"](spark, WARM_DIR).count()
    for notch, path in present("s2_edge_build_alone", NOTCHES):
        analytics._EDGE_CACHE.clear()
        sec, edges = timed(lambda: analytics._graph_s2_edges_build(spark, path).count())
        emit(leg="s2_edge_build_alone", notch=notch, sec=sec, edges=edges)
        analytics._EDGE_CACHE.clear()
        for leg, query in S2_LEGS:
            sec, rows = timed(lambda: qs[query](spark, path).count())
            emit(leg=leg, notch=notch, sec=sec, rows=rows)


def wedge_cap(spark) -> None:
    """Capped vs uncapped neighbor Jaccard on a power-law hub (LADDER_r10)."""
    from pos_pipeline_core_etl_spark.operators import graph

    for h in HUB_DEGREES:
        edges = hub_star(spark, h).localCheckpoint(eager=True)
        m = edges.count()
        sec, rows = timed(lambda: graph.neighbor_jaccard_pairs(edges, threshold=0.0, wedge_cap=4).count())
        emit(leg="neighbor_jaccard_capped_hub", hub_deg=h, edges=m, sec=sec, rows=rows)
        sec, rows = timed(lambda: graph.wedge_overflow(edges, wedge_cap=4).count())
        emit(leg="wedge_overflow_hub", hub_deg=h, sec=sec, rows=rows)
        if h * (h - 1) // 2 > 4 * 10**8:
            emit(leg="neighbor_jaccard_uncapped_hub", hub_deg=h, sec=None,
                 skipped="uncapped wedge intermediate > 4e8")
            continue
        sec, rows = timed(lambda: graph.neighbor_jaccard_pairs(edges, threshold=0.0).count())
        emit(leg="neighbor_jaccard_uncapped_hub", hub_deg=h, sec=sec, rows=rows)


def semdedup_sqrtk(spark) -> None:
    """k-means-blocked semdedup with k = sqrt(n) per file notch (LADDER_r10)."""
    from pos_pipeline_core_etl_spark.operators import similarity

    for notch, path in present("semdedup_sqrtk", NOTCHES):
        emb = read(spark, path, "embeddings")
        n = emb.count()
        k = max(8, math.isqrt(n))
        sec, rows = timed(lambda: similarity.semdedup(emb, threshold=0.3, k=k, iters=2).count())
        emit(leg="semdedup_sqrtk", notch=notch, n_vecs=n, k=k, sec=sec, rows=rows)


def kmv(spark) -> None:
    """KMV single-pass and sharded merge vs exact count-distinct (LADDER_r10)."""
    from pos_pipeline_core_etl_spark.operators import sketches

    read(spark, WARM_DIR, "lineitem").groupBy("l_returnflag").agg(F.countDistinct("l_orderkey")).count()
    for notch, path in present("kmv_vs_exact", NOTCHES):
        li = read(spark, path, "lineitem")
        sec_exact, exact = timed(lambda: dict(
            li.groupBy("l_returnflag").agg(F.countDistinct("l_orderkey")).collect()))
        sec_single, single = timed(lambda: {
            r["l_returnflag"]: r["kmv_estimate"]
            for r in sketches.kmv_group_estimates(li, "l_returnflag", "l_orderkey", k=64).collect()})

        def merged():
            sk = sketches.kmv_merge_sketch(li, "l_returnflag", "l_orderkey",
                                           shard_col=F.pmod(F.col("l_orderkey"), F.lit(4)), k=64)
            agg = sk.groupBy("l_returnflag").agg(F.count("h").alias("n_vals"), F.max("h").alias("h_k"))
            return dict(agg.select("l_returnflag", sketches.kmv_estimate_col(
                F.col("n_vals"), F.col("h_k"), 64)).collect())

        sec_merge, merge = timed(merged)
        emit(leg="kmv_vs_exact", notch=notch,
             sec_exact_count_distinct=sec_exact, sec_kmv_single_pass=sec_single,
             sec_kmv_sharded_merge=sec_merge, merge_equals_single=merge == single,
             max_rel_err=round(max(abs(single[g] - exact[g]) / exact[g] for g in exact), 4),
             exact=exact)


def ivfpq(spark) -> None:
    """IVF-PQ train-once vs query path vs composed one-shot (LADDER_r11)."""
    from pos_pipeline_core_etl_spark.operators import similarity

    similarity.ivfpq_kmeans_search_topk(read(spark, WARM_DIR, "embeddings")).count()
    for notch, path in present("ivfpq_split", NOTCHES):
        emb = read(spark, path, "embeddings")

        def train():
            # eager build materializes all four index frames; the codes count is then cheap
            index = similarity.ivfpq_build_index(emb, eager=True)
            return index, index.codes.count()

        sec, (index, code_rows) = timed(train)
        emit(leg="ivfpq_train_once", notch=notch, sec=sec, code_rows=code_rows)
        # the first 10 self-queries: sim_ivfpq_kmeans_topk's operating point;
        # the warm batch is the steady-state serving cost
        for batch in ("cold", "warm"):
            sec, rows = timed(lambda: similarity.ivfpq_query_index(index, k=3, n_queries=10).count())
            emit(leg="ivfpq_query_path", notch=notch, batch=batch, sec=sec, rows=rows)
        sec, rows = timed(lambda: similarity.ivfpq_kmeans_search_topk(emb).count())
        emit(leg="ivfpq_composed_oneshot", notch=notch, sec=sec, rows=rows)


def hist(spark) -> None:
    """Histogram quantiles vs Spark's exact sort-based percentile (LADDER_r11)."""
    from pos_pipeline_core_etl_spark.operators import sketches

    ps = (0.5, 0.9, 0.99)
    exact = F.expr("percentile(l_extendedprice, array(0.5, 0.9, 0.99))")
    sketches.hist_quantiles(read(spark, WARM_DIR, "lineitem"), "l_extendedprice").count()
    for notch, path in present("hist_quantile", NOTCHES):
        li = read(spark, path, "lineitem")
        sec_ex, ex = timed(lambda: li.agg(exact).collect()[0][0])
        sec_h, hq = timed(lambda: {
            r["p"]: r["q_estimate"] for r in sketches.hist_quantiles(li, "l_extendedprice").collect()})
        emit(leg="hist_quantile_vs_exact", notch=notch,
             sec_exact_percentile=sec_ex, sec_hist_sketch=sec_h,
             rel_err={str(p): round(abs(hq[p] - e) / e, 5) for p, e in zip(ps, ex)})
        sec_gex, _ = timed(lambda: li.groupBy("l_returnflag").agg(exact).collect())
        sec_gh, rows = timed(lambda: sketches.hist_quantiles_grouped(
            li, "l_returnflag", "l_extendedprice").count())
        emit(leg="hist_quantile_grouped_vs_exact", notch=notch,
             sec_exact_grouped_percentile=sec_gex, sec_hist_grouped=sec_gh, rows=rows)


def bloom(spark) -> None:
    """Bloom probe vs shuffled exact semi-join as the build side grows (LADDER_r12)."""
    from pos_pipeline_core_etl_spark.operators import sketches

    words, hashes = 1 << 20, 4  # 65M bits: load 0.06 -> 0.62 across BLOOM_BUILD_KEYS
    spark.sparkContext.setLogLevel("ERROR")
    # probe keys half-overlap the densest build domain, so n_true is non-trivial
    probe = (spark.range(BLOOM_PROBE_ROWS).select((F.col("id") * 3 + 1).alias("key"))
             .repartition(32).localCheckpoint(eager=True))
    for n_build in BLOOM_BUILD_KEYS:
        build = (spark.range(n_build).select((F.col("id") * 2).alias("key"))
                 .repartition(32).localCheckpoint(eager=True))
        build_sec, table = timed(lambda: sketches.bloom_words(
            build, "key", words, hashes).localCheckpoint(eager=True))
        probe_sec, n_candidates = timed(lambda: sketches.bloom_probe(
            probe, "key", table, words, hashes).where("is_candidate").count())
        # raw broadcast off: the shape a build side too big to broadcast forces
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            exact_sec, n_true = timed(lambda: probe.join(build, "key", "left_semi").count())
        finally:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        # rows without "hashing" in LADDER_r12.jsonl predate Kirsch-Mitzenmacher
        # double hashing (km2: 2 md5s, positions derived arithmetically)
        emit(leg="bloom_probe_vs_exact", hashing="km2", build_keys=n_build,
             probe_rows=BLOOM_PROBE_ROWS, words=words, build_sec=build_sec,
             probe_sec=probe_sec, exact_sec=exact_sec, n_candidates=n_candidates,
             n_true=n_true, false_pos=n_candidates - n_true)
        table.unpersist()
        build.unpersist()


def rollup(spark) -> None:
    """Day grain served from a materialized hour rollup vs from raw (LADDER_r12)."""
    spark.sparkContext.setLogLevel("ERROR")
    for n in ROLLUP_RAW_ROWS:
        ev = events(spark, n).localCheckpoint(eager=True)
        mat_sec, hour = timed(lambda: ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
                              .agg(F.count("*").alias("cnt"), F.sum("value").alias("sv"))
                              .localCheckpoint(eager=True))
        rollup_sec, rollup_total = timed(lambda: hour.groupBy(F.to_date("hour").alias("day"), "event_type")
                                         .agg(F.sum("cnt").alias("n")).agg(F.sum("n")).collect()[0][0])
        raw_sec, raw_total = timed(lambda: ev.groupBy(F.to_date("ts").alias("day"), "event_type")
                                   .agg(F.count("*").alias("n")).agg(F.sum("n")).collect()[0][0])
        assert rollup_total == raw_total == n, (rollup_total, raw_total, n)
        emit(leg="rollup_serving_vs_raw", raw_rows=n, hour_cells=hour.count(),
             materialize_sec=mat_sec, serve_from_rollup_sec=rollup_sec, serve_from_raw_sec=raw_sec)
        hour.unpersist()
        ev.unpersist()


SCENARIOS = {
    "queries": queries,
    "fuzzy": fuzzy_d1_d2,
    "scoped_d2": scoped_d2,
    "triangles": triangles,
    "er": er,
    "er_union": er_union,
    "s2": s2_edges,
    "wedge_cap": wedge_cap,
    "semdedup": semdedup_sqrtk,
    "kmv": kmv,
    "ivfpq": ivfpq,
    "hist": hist,
    "bloom": bloom,
    "rollup": rollup,
}
# With a 64 GiB heap the driver JVM almost never GCs on its own, so
# shuffle files of finished components rounds stay on disk for the
# default 30 min and filled a ~78 GB disk during a 15M-key run; 2 min
# keeps the live spill to a few rounds' worth.
SESSION_CONF = {"er": {"spark.cleaner.periodicGC.interval": "2min"}}
COUNT_ARGS = ("er", "er_union")  # scenarios whose arguments are cluster counts


def main(argv: list[str]) -> int:
    if argv[:1] == ["--list"]:
        for name, run in SCENARIOS.items():
            print(f"{name:<10} {inspect.getdoc(run).splitlines()[0]}")
        return 0
    if not argv or argv[0] not in SCENARIOS:
        print(__doc__, file=sys.stderr)
        return 2
    name, args = argv[0], argv[1:]
    run = SCENARIOS[name]
    if name in COUNT_ARGS:
        if not all(a.isdigit() for a in args):
            print(f"ladder.py {name}: cluster counts must be whole numbers: {args}", file=sys.stderr)
            return 2
        args = [int(a) for a in args]
    try:
        inspect.signature(run).bind(None, *args)
    except TypeError as e:
        print(f"ladder.py {name}: {e}", file=sys.stderr)
        return 2
    from pos_pipeline_core_etl_spark.session import get_spark

    spark = get_spark(app_name=f"ladder_{name}", extra_conf=SESSION_CONF.get(name))
    try:
        run(spark, *args)
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
