"""Skew salting, MERGE upsert, SCD-2, stateful streaming."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from pos_pipeline_core_etl_spark.operators.skew import (
    salted_aggregate,
    salted_broadcast_left,
)
from pos_pipeline_core_etl_spark.operators.upsert import merge_upsert, scd2_apply

D = dt.date


class TestSaltedAggregate:
    def test_matches_plain_aggregate(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        plain = {
            (r["l_returnflag"],): (r["n"], r["qty"])
            for r in df.groupBy("l_returnflag")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("qty"))
            .collect()
        }
        salted = {
            (r["l_returnflag"],): (r["n"], r["qty"])
            for r in salted_aggregate(
                df,
                keys=["l_returnflag"],
                aggs={"n": ("count", "*"), "qty": ("sum", "l_quantity")},
                salt_src=F.col("l_orderkey"),
                n_salts=8,
            ).collect()
        }
        assert set(plain) == set(salted)
        for k in plain:
            assert plain[k][0] == salted[k][0]
            assert abs(plain[k][1] - salted[k][1]) < 1e-6

    def test_non_algebraic_rejected(self, spark):
        df = spark.range(10)
        with pytest.raises(ValueError, match="non-algebraic"):
            salted_aggregate(df, ["id"], {"x": ("avg", "id")}, F.col("id"))

    def test_salted_broadcast_join_matches_plain(self, spark):
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
            "l_orderkey", "l_suppkey", "l_quantity"
        )
        sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet").select(
            F.col("s_suppkey").alias("l_suppkey"), "s_name"
        )
        plain = li.join(sup, "l_suppkey", "left")
        salted = salted_broadcast_left(li, sup, "l_suppkey", n_salts=4)
        assert salted.count() == plain.count()
        assert salted.where(F.col("s_name").isNull()).count() == plain.where(
            F.col("s_name").isNull()
        ).count()


class TestUpsert:
    def _dim(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "id long, name string, v double",
        )

    def test_merge_upsert(self, spark):
        updates = spark.createDataFrame(
            [(2, "b2", 25.0), (4, "d", 40.0)], "id long, name string, v double"
        )
        out = {r["id"]: (r["name"], r["v"]) for r in merge_upsert(self._dim(spark), updates, ["id"]).collect()}
        assert out == {1: ("a", 10.0), 2: ("b2", 25.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    def test_scd2_closes_and_appends(self, spark):
        dim = spark.createDataFrame(
            [
                (1, "a", D(2023, 1, 1), None),
                (2, "b", D(2023, 1, 1), None),
                (1, "a0", D(2022, 1, 1), D(2022, 12, 31)),
            ],
            "id long, name string, valid_from date, valid_to date",
        )
        changes = spark.createDataFrame(
            [(1, "a1"), (2, "b")], "id long, name string"  # only id=1 changed
        )
        out = scd2_apply(dim, changes, "id", D(2024, 6, 1), ["name"])
        rows = sorted(
            ((r["id"], r["name"], str(r["valid_from"]), str(r["valid_to"])) for r in out.collect())
        )
        assert rows == sorted(
            [
                (1, "a0", "2022-01-01", "2022-12-31"),
                (1, "a", "2023-01-01", "2024-05-31"),  # closed
                (1, "a1", "2024-06-01", "None"),  # new current
                (2, "b", "2023-01-01", "None"),  # untouched
            ]
        )

    def test_scd2_appends_initial_version_for_new_keys(self, spark):
        """A key in changes but absent from dim gets a first version
        (ADVICE r1: previously silently dropped)."""
        dim = spark.createDataFrame(
            [(1, "a", D(2023, 1, 1), None)],
            "id long, name string, valid_from date, valid_to date",
        )
        changes = spark.createDataFrame(
            [(1, "a"), (9, "new")], "id long, name string"
        )
        out = scd2_apply(dim, changes, "id", D(2024, 6, 1), ["name"])
        rows = sorted(
            ((r["id"], r["name"], str(r["valid_from"]), str(r["valid_to"])) for r in out.collect())
        )
        assert rows == sorted(
            [
                (1, "a", "2023-01-01", "None"),  # unchanged, untouched
                (9, "new", "2024-06-01", "None"),  # brand-new initial version
            ]
        )

    def test_scd2_reactivates_fully_closed_key(self, spark):
        """A key whose versions are ALL closed gets a fresh version on
        re-arrival instead of being silently dropped (ADVICE r2)."""
        dim = spark.createDataFrame(
            [
                (1, "a", D(2023, 1, 1), None),
                (7, "gone", D(2022, 1, 1), D(2022, 12, 31)),  # fully closed
            ],
            "id long, name string, valid_from date, valid_to date",
        )
        changes = spark.createDataFrame(
            [(7, "back")], "id long, name string"
        )
        out = scd2_apply(dim, changes, "id", D(2024, 6, 1), ["name"])
        rows = sorted(
            ((r["id"], r["name"], str(r["valid_from"]), str(r["valid_to"])) for r in out.collect())
        )
        assert rows == sorted(
            [
                (1, "a", "2023-01-01", "None"),  # untouched current
                (7, "gone", "2022-01-01", "2022-12-31"),  # history kept
                (7, "back", "2024-06-01", "None"),  # re-activated
            ]
        )



class TestStatefulStreaming:
    def test_running_counters_match_batch(self, spark):
        from pos_pipeline_core_etl_spark.sources.tables import load_table
        from pos_pipeline_core_etl_spark.streaming.events import (
            run_streaming_stateful_counters,
        )

        result = run_streaming_stateful_counters(
            spark, "/root/testdata/sf0.001", query_name="t_state_eq"
        )
        got = {r["event_type"]: (r["n"], r["total_value"]) for r in result.collect()}
        batch = {
            r["event_type"]: (r["n"], round(r["tv"], 2))
            for r in load_table(spark, "/root/testdata/sf0.001", "events")
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
            .collect()
        }
        assert set(got) == set(batch)
        for k in got:
            assert got[k][0] == batch[k][0]
            assert abs(got[k][1] - batch[k][1]) < 0.05


class TestBucketedJoin:
    def test_bucketed_tables_join_without_exchange(self, spark, tmp_path):
        """bucketBy co-location: both sides bucketed on the join key →
        the join runs with NO shuffle exchange (the 100 TB recipe for
        repeated fact-fact joins)."""
        spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
            "o_orderkey", "o_totalprice"
        )
        li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("b_li")
        orders.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("b_orders")
        try:
            joined = spark.table("b_li").join(
                spark.table("b_orders"),
                spark.table("b_li").l_orderkey == spark.table("b_orders").o_orderkey,
            )
            # disable broadcast so the co-location is what avoids the shuffle
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange hashpartitioning" not in plan
            assert joined.count() == li.count()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            spark.sql("DROP TABLE IF EXISTS b_li")
            spark.sql("DROP TABLE IF EXISTS b_orders")


class TestIvfAnn:
    def test_ivf_recall_vs_brute_force(self, spark):
        from pos_pipeline_core_etl_spark.operators.similarity import (
            cosine_topk,
            ivf_search_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        brute = cosine_topk(emb, k=3)
        ivf = ivf_search_topk(emb, k=3, nprobe=4)
        truth = {}
        for r in brute.collect():
            truth.setdefault(r["query_id"], set()).add(r["cand_id"])
        got = {}
        for r in ivf.collect():
            got.setdefault(r["query_id"], set()).add(r["cand_id"])
        assert set(got) == set(truth)
        hits = sum(len(truth[q] & got.get(q, set())) for q in truth)
        total = sum(len(v) for v in truth.values())
        assert hits / total >= 0.3  # nprobe=4/16 on random 64-d vectors

    def test_ivf_deterministic(self, spark):
        from pos_pipeline_core_etl_spark.operators.similarity import ivf_search_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        a = sorted(map(tuple, ivf_search_topk(emb).collect()))
        b = sorted(map(tuple, ivf_search_topk(emb).collect()))
        assert a == b

    def test_ivf_probe_selection_is_distributed(self, spark, monkeypatch):
        """VERDICT r11 #5: probe selection must NOT build probe rows on
        the driver.  The only ``collect()`` in the whole search is the
        bounded quantizer training sample inside ``ivf_centroids``
        (≤256 rows by construction) — counted here by instrumenting
        DataFrame.collect, so a regression back to the driver-side
        python probe loop (a second collect of the query batch) fails
        loudly.  The 10k-query cap is gone with the loop: a corpus-
        sized batch is a bigger relational plan, not a driver OOM."""
        from pos_pipeline_core_etl_spark.operators import similarity

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        # patch the CONCRETE class (pyspark 4 routes pyspark.sql.DataFrame
        # through a classic/connect subclass whose collect overrides it)
        cls = type(emb)
        calls = []
        real_collect = cls.collect
        monkeypatch.setattr(
            cls,
            "collect",
            lambda self: (calls.append(1), real_collect(self))[1],
        )
        out = similarity.ivf_search_topk(emb, k=3, nprobe=4)
        assert len(calls) == 1, (
            f"{len(calls)} driver collects while PLANNING the search — "
            "only the bounded ivf_centroids sample is allowed"
        )
        monkeypatch.undo()
        # the cap is gone: an over-10k batch plans fine (n_queries
        # larger than the corpus just means every vector is a query)
        assert similarity.ivf_search_topk(emb, n_queries=20_000).count() > 0
        assert out.count() > 0


class TestEmbeddingNeardup:
    def test_blocked_matches_are_subset_of_bruteforce(self, spark):
        """Every LSH-blocked near-dup pair must also pass the exact
        cosine threshold on an unblocked check (no false positives),
        and survivorship keeps the smallest partner id."""
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.functions.rounding import hround
        from pos_pipeline_core_etl_spark.operators.similarity import (
            _as_double,
            cosine,
            embedding_neardup,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = embedding_neardup(emb, threshold=0.2)
        rows = out.collect()
        assert len(rows) > 0
        assert all(r["keep_id"] < r["dup_id"] for r in rows)
        assert all(r["best_sim"] >= 0.2 for r in rows)

        # exact recheck of each (keep_id, dup_id) pair without blocking
        base = emb.select("vec_id", _as_double(F.col("embedding")).alias("v"))
        pairs = spark.createDataFrame(
            [(r["keep_id"], r["dup_id"]) for r in rows], "a long, b long"
        )
        exact = (
            pairs.join(base.withColumnRenamed("vec_id", "a").withColumnRenamed("v", "va"), "a")
            .join(base.withColumnRenamed("vec_id", "b").withColumnRenamed("v", "vb"), "b")
            .select(hround(cosine(F.col("va"), F.col("vb")), 6).alias("s"))
        )
        assert all(r["s"] >= 0.2 for r in exact.collect())

    def test_single_shuffle_blocking_join(self, spark):
        """The pair join is an equi-join on the bucket key — no cartesian
        product in the plan."""
        from pos_pipeline_core_etl_spark.operators.similarity import embedding_neardup

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = embedding_neardup(emb)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestAqeSkewJoin:
    def test_aqe_splits_hot_key_partition(self, spark):
        """Synthetic hot key (~90% of the fact on one join key) through a
        sort-merge join with AQE skew handling forced on at low
        thresholds: the final adaptive plan must mark the join skew=true
        (the hot partition was split), and the result must equal the
        AQE-off run."""
        from pyspark.sql import functions as F

        fact = (
            spark.range(200_000)
            .select(
                F.when(F.col("id") % 10 < 9, F.lit(0))
                .otherwise(F.col("id") % 1000)
                .alias("k"),
                (F.col("id") % 97).cast("double").alias("v"),
            )
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), F.concat(F.lit("grp_"), F.col("id") % 7).alias("grp")
        )

        def run():
            joined = fact.join(dim, "k").groupBy("grp").agg(
                F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")
            )
            rows = sorted(map(tuple, joined.collect()))
            plan = joined._jdf.queryExecution().executedPlan().toString()
            return rows, plan

        conf = {
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "0",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "65536",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "65536",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        }
        try:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            rows_off, _ = run()
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            for k, v in conf.items():
                spark.conf.set(k, v)
            rows_aqe, plan_aqe = run()
            assert "skew=true" in plan_aqe, plan_aqe[:2000]
            assert rows_aqe == rows_off
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
            for k in conf:
                spark.conf.unset(k)


class TestMultimodalPlumbing:
    def test_frame_sample_fans_out_and_reassembles(self, spark):
        """1 payload row → N frame rows; kept frames are the even-indexed
        256-byte chunks and reassemble to the original prefix bytes."""
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators.multimodal import (
            documents_as_binary,
            sample_frames,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        one = documents_as_binary(docs).where(F.col("doc_id") == 0)
        payload = bytes(one.first()["payload"])
        frames = sample_frames(one).orderBy("frame_index").collect()
        assert len(frames) == (len(payload) + 255) // 256 // 2 + (
            1 if ((len(payload) + 255) // 256) % 2 else 0
        )
        for r in frames:
            i = r["frame_index"]
            assert i % 2 == 0
            assert bytes(r["frame"]) == payload[i * 256 : (i + 1) * 256]
            assert r["n_frame_bytes"] == len(bytes(r["frame"]))

    def test_resize_budget(self, spark):
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            documents_as_binary,
            resize_images,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        out = resize_images(documents_as_binary(docs), width=64, height=48)
        rows = out.collect()
        assert len(rows) == docs.count()
        assert all(r["n_bytes_out"] == min(r["n_bytes_in"], 48) for r in rows)
        assert all(r["resizer"] == "stub" for r in rows)



class TestMultimodalOracleInvariant:
    """The stub-only SQL oracles for multimodal_features/resize are exact
    because documents_as_binary payloads are UTF-8 text encodes, and no
    UTF-8 stream can start with the PNG magic byte 0x89 (ADVICE r2)."""

    def test_utf8_encode_never_yields_png_magic_prefix(self):
        from pos_pipeline_core_etl_spark.operators.multimodal import PNG_MAGIC

        # adversarial first characters: every UTF-8 lead-byte class plus
        # the code point whose low byte is 0x89
        for ch in ["a", "\x7f", "\u0089", "\u0289", "\u2089", "\U00010089"]:
            enc = (ch + " rest of document").encode("utf-8")
            assert not enc.startswith(PNG_MAGIC[:1]), ch
        # exhaustive over the BMP first-char space: lead byte is never 0x89
        assert all(
            chr(cp).encode("utf-8")[0] != 0x89 for cp in range(0x20, 0x2000)
        )

    def test_query_payloads_take_stub_path(self, spark):
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            documents_as_binary,
            extract_features,
            resize_images,
        )

        docs = spark.createDataFrame(
            [(1, "\u0089PNG fake magic attempt"), (2, "plain text")],
            "doc_id long, text string",
        )
        binary = documents_as_binary(docs)
        assert {r["decoder"] for r in extract_features(binary).collect()} == {"stub"}
        assert {r["resizer"] for r in resize_images(binary).collect()} == {"stub"}

class TestApproxPercentiles:
    def test_sketch_close_to_exact(self, spark):
        """percentile_approx at accuracy 10000 lands within 2% relative
        error of the exact per-group percentiles."""
        from pos_pipeline_core_etl_spark.plans.analytics import (
            order_times_approx,
            order_times_summary,
        )

        sf = "/root/testdata/sf0.01"
        exact = {r["event_type"]: r for r in order_times_summary(spark, sf).collect()}
        approx = {r["event_type"]: r for r in order_times_approx(spark, sf).collect()}
        assert set(exact) == set(approx)
        for et in exact:
            # the query now carries the tolerance contract itself
            assert approx[et]["median_within_tol"], et
            assert approx[et]["p90_within_tol"], et
            for a_col, e_col in (
                ("v_median_exact", "v_median"),
                ("v_p90_exact", "v_p90"),
            ):
                assert approx[et][a_col] == exact[et][e_col], (et, a_col)


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        """a-b-c chain collapses to one component even though (a,c) was
        never a pair; disjoint pair and untouched vertex stay separate."""
        from pos_pipeline_core_etl_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
            "doc_a long, doc_b long",
        )
        got = {r["id"]: r["component_id"] for r in connected_components(edges).collect()}
        assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}

    def test_long_chain_converges_in_log_rounds(self, spark):
        """Pointer-halving regression (round 9): sorted-neighborhood
        blocking over clustered keys produces LEGITIMATE lev-2 chains
        whose component diameter exceeded the 20-round cap of the old
        one-hop propagation (the 1.5M-key ladder leg raised). A
        400-node path must now converge well inside the cap — one-hop
        would need 400 rounds."""
        from pos_pipeline_core_etl_spark.operators.dedup import connected_components

        chain = [(i, i + 1) for i in range(1, 401)]
        edges = spark.createDataFrame(chain, "doc_a long, doc_b long")
        got = {r["id"]: r["component_id"]
               for r in connected_components(edges, max_iters=12).collect()}
        assert set(got.values()) == {1} and len(got) == 401

    def test_fixed_point_stability(self, spark):
        """Re-running CC on its own output labels is a no-op (labels are
        already the component minima)."""
        from pos_pipeline_core_etl_spark.operators.dedup import connected_components

        edges = spark.createDataFrame(
            [(5, 3), (3, 8), (8, 1)], "doc_a long, doc_b long"
        )
        labels = connected_components(edges)
        got = {r["id"]: r["component_id"] for r in labels.collect()}
        assert set(got.values()) == {1}
        # derived edge list (id -> its label) reaches the same fixed point
        relabel = connected_components(
            labels.select(
                F.col("id").alias("doc_a"), F.col("component_id").alias("doc_b")
            )
        )
        got2 = {r["id"]: r["component_id"] for r in relabel.collect()}
        assert all(v == 1 for v in got2.values())

    def test_components_beat_keep_min_id_on_chains(self, spark):
        """The single-pass keep-min-id survivorship leaves transitive
        chains split; the CC path unifies them (the scale-grade upgrade)."""
        from pos_pipeline_core_etl_spark.operators.dedup import connected_components

        # chain 0-1, 1-2: keep-min-id maps 1->0, 2->1 (two clusters);
        # components map all three to 0
        edges = spark.createDataFrame([(0, 1), (1, 2)], "doc_a long, doc_b long")
        keep_min = {1: 0, 2: 1}  # what the one-shot pass yields
        cc = {r["id"]: r["component_id"] for r in connected_components(edges).collect()}
        assert cc == {0: 0, 1: 0, 2: 0}
        assert set(keep_min.values()) != {0}  # the gap CC closes

    def test_nonconvergence_raises(self, spark):
        """A diameter longer than the round budget fails LOUDLY instead of
        silently returning labels that diverge from the reachability
        oracle (ADVICE r2)."""
        from pos_pipeline_core_etl_spark.operators.dedup import connected_components

        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(8)], "doc_a long, doc_b long"
        )
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(chain, max_iters=2)
        # the same graph converges with an adequate budget
        got = {
            r["id"]: r["component_id"]
            for r in connected_components(chain, max_iters=12).collect()
        }
        assert set(got.values()) == {0}


class TestConverge:
    """``operators.common.converge`` — the one fixed-point driver behind
    connected components, tolerance-stopped PageRank and k-core."""

    @staticmethod
    def _counter(spark, done, max_rounds, cap=None, init=0, prev=None):
        """Run ``converge`` over a one-row counter (v -> v + 1, clipped
        at ``cap``); returns (final v, rounds, converged, steps run,
        number of persisted RDDs left behind)."""
        from pos_pipeline_core_etl_spark.operators.common import converge

        jmap = spark.sparkContext._jsc.getPersistentRDDs
        before = set(jmap().keySet().toArray())
        steps = []

        def step(df):
            steps.append(1)
            nxt = F.col("v") + 1
            if cap is not None:
                nxt = F.least(nxt, F.lit(cap))
            return df.select(nxt.alias("v")).localCheckpoint(eager=False)

        it, rounds, converged = converge(
            spark.createDataFrame([(init,)], "v long"),
            step, F.max("v"), done, max_rounds, prev=prev,
        )
        v = it.first()["v"]
        left = set(jmap().keySet().toArray()) - before
        for rid in left:
            jmap().get(rid).unpersist(False)
        return v, rounds, converged, len(steps), len(left)

    def test_stop_index(self, spark):
        """Rounds run 1, 1, 2, 2, ...: the stop index and the returned
        iterate are the unbatched loop's wherever the stop lands, and
        only the returned iterate's checkpoint stays live."""
        reach = lambda t: lambda _prev, m: m >= t  # noqa: E731
        # first round of the pair (3, 4): round 4 is the one wasted round
        assert self._counter(spark, reach(3), 10) == (3, 3, True, 4, 1)
        # second round of the pair
        assert self._counter(spark, reach(4), 10) == (4, 4, True, 4, 1)
        # the cap binds (batches 1, 1, 2, 1): last iterate, not converged
        assert self._counter(spark, reach(99), 5) == (5, 5, False, 5, 1)
        assert self._counter(spark, reach(99), 1) == (1, 1, False, 1, 1)
        assert self._counter(spark, reach(1), 1) == (1, 1, True, 1, 1)
        # stability against the previous round's scalar, seeded by prev
        stable = lambda prev, m: m == prev  # noqa: E731
        assert self._counter(spark, stable, 10, cap=3) == (3, 4, True, 4, 1)
        assert self._counter(
            spark, stable, 10, cap=3, init=3, prev=3
        ) == (3, 1, True, 1, 1)

    @staticmethod
    def _run_loop(spark, name):
        from pos_pipeline_core_etl_spark.operators import dedup, graph

        chain = [(i, i + 1) for i in range(300)]
        if name == "connected_components":
            edges = spark.createDataFrame(chain, "doc_a long, doc_b long")
            return dedup.connected_components(edges)
        edges = spark.createDataFrame(chain[:24], "src long, dst long")
        if name == "pagerank_converged":
            # unreachable tolerance: every round up to the cap runs
            return graph.pagerank_converged(edges, tol_q=-1, max_iters=10)
        # a path has no 2-core: peels its two ends per round to the cap
        return graph.kcore_nodes(edges, k=2)

    @pytest.mark.parametrize(
        "loop", ["connected_components", "pagerank_converged", "kcore_nodes"]
    )
    def test_release_checkpoint_keeps_persisted_rdds_bounded(
        self, spark, monkeypatch, loop
    ):
        """Pin ``release_checkpoint`` against silent regression
        (VERDICT r11 #2): it reaches through private py4j accessors
        under a blanket ``except``, so a Spark API change would turn
        the per-round block release into a NO-OP with zero signal — and
        the r10 15M-key ER OOM class returns invisibly.  This test
        makes that failure loud: a multi-round loop must leave O(1)
        persisted RDDs behind, and the SAME run with the release that
        ``converge`` calls stubbed to ``pass`` must leak ~one frame per
        round — so the healthy bound genuinely discriminates (the test
        fails if the stub arm stops leaking, i.e. if the bound went
        vacuous).
        """
        from pos_pipeline_core_etl_spark.operators import common

        jmap = spark.sparkContext._jsc.getPersistentRDDs

        def leaked_by_run():
            before = set(jmap().keySet().toArray())
            self._run_loop(spark, loop).collect()
            leaked = set(jmap().keySet().toArray()) - before
            # free exactly what this run left (ids diffed, so foreign
            # persisted RDDs are untouched)
            live = jmap()
            for rid in leaked:
                rdd = live.get(rid)
                if rdd is not None:
                    rdd.unpersist(False)
            return len(leaked)

        healthy = leaked_by_run()
        # O(1): the returned checkpoint (+ at most the loop's setup
        # frames) — NOT one per round.  A no-op release lands ≥ 6 here.
        assert healthy <= 3, (
            f"{healthy} persisted RDDs left behind — release_checkpoint "
            "is no longer freeing per-round checkpoint blocks"
        )

        # discrimination arm: stub the release and the leak must be
        # visible, proving the bound above can actually catch a no-op
        monkeypatch.setattr(common, "release_checkpoint", lambda df: None)
        stubbed = leaked_by_run()
        assert stubbed > 3, (
            f"stubbed release leaked only {stubbed} RDDs — the healthy "
            "bound no longer discriminates; tighten the fixture"
        )


class TestLshParameterization:
    """LSH/SimHash constants are tunable (VERDICT r1 item 9): a second
    (bands, rows) split behaves per the S-curve — stricter bands yield a
    candidate subset."""

    def test_stricter_banding_yields_subset(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import minhash_lsh_candidates

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        default = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(docs).collect()  # 4 bands x 4 rows
        }
        strict = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(docs, bands=2, rows=8).collect()
        }
        # an 8-row band match implies both contained 4-row band matches
        assert strict <= default
        assert default  # the fixture corpus does produce candidates

    def test_simhash_width_parameter(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import simhash

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(50)
        s16 = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=16).collect()}
        s32 = {r["doc_id"]: r["simhash"] for r in simhash(docs, bits=32).collect()}
        s60 = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
        assert set(s16) == set(s32) == set(s60)
        for d in s16:
            # low 16 bits of the 32-bit signature == the 16-bit signature
            # (same 8-hex token hash below 32 bits)
            assert s32[d] & 0xFFFF == s16[d]
            assert s32[d] < (1 << 32)
            # the default is the 60-bit production width (15-hex hash)
            assert 0 <= s60[d] < (1 << 60)
        assert any(v >= (1 << 32) for v in s60.values())
        with pytest.raises(ValueError):
            simhash(docs, bits=64).collect()

    def test_simhash_banded_equals_allpairs(self, spark):
        """Pigeonhole guarantee: with no bucket over the cap, the banded
        candidate generator must reproduce the all-pairs result exactly
        (any pair within Hamming ≤ h shares at least one of h+1 bands)."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            simhash_banded_pairs,
            simhash_near_pairs,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).where("doc_id < 100")
        allpairs = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_near_pairs(docs, max_hamming=3).collect()
        }
        banded = {
            (r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_banded_pairs(docs, max_hamming=3).collect()
        }
        assert banded == allpairs
        assert allpairs  # fixture corpus produces near-pairs

    def test_simhash_banded_no_quadratic_join(self, spark):
        """The banded path must never plan a doc × doc leg — candidates
        come from keyed band buckets, verify from equi-joins."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            simhash_banded_pairs,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            simhash_banded_pairs(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan

    def test_banded_overflow_report_catches_collapse(self, spark):
        """ADVICE r5: a duplication-heavy corpus can overflow EVERY
        pigeonhole bucket, silently dropping ALL pairs while recall
        audits on a small subset stay green. The overflow report is the
        diagnostic: on the degenerate corpus it is non-empty exactly
        when the pair generator went blind; on a healthy corpus it is
        empty and the pairs are intact."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            simhash_banded_overflow,
            simhash_banded_pairs,
        )

        # 40 byte-identical docs → one clique; cap of 10 excludes it
        clique = [(i, "same text every time") for i in range(40)]
        df = spark.createDataFrame(clique, ["doc_id", "text"])
        pairs = simhash_banded_pairs(df, max_hamming=3, max_bucket_size=10)
        report = simhash_banded_overflow(df, max_hamming=3, max_bucket_size=10)
        assert pairs.count() == 0  # recall collapsed...
        rep = report.collect()
        assert len(rep) == 4  # ...and the report says so, per band
        assert all(r["n_docs"] == 40 for r in rep)
        # healthy corpus: report empty, pairs present
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        ).where("doc_id < 100")
        assert simhash_banded_overflow(docs, max_hamming=3).count() == 0
        assert simhash_banded_pairs(docs, max_hamming=3).count() > 0

    def test_simhash_band_widths_partition_bits(self):
        from pos_pipeline_core_etl_spark.operators.dedup import (
            simhash_band_widths,
        )

        for bits, h in [(16, 3), (32, 3), (17, 3), (7, 2)]:
            widths = simhash_band_widths(bits, h)
            assert len(widths) == h + 1
            assert sum(w for _s, w in widths) == bits
            assert widths[0][0] == 0
            for (s0, w0), (s1, _w1) in zip(widths, widths[1:]):
                assert s1 == s0 + w0
        with pytest.raises(ValueError):
            simhash_band_widths(3, 3)


class TestImageDhash:
    """Perceptual dHash over REAL PNG pixels (operators/multimodal.py::
    dhash_png): the near-duplicate-image signal, with its defining
    scale-invariance property exercised through the stdlib codec."""

    @staticmethod
    def _img(f, w=20, h=16):
        from pos_pipeline_core_etl_spark.operators.multimodal import encode_png

        px = bytearray()
        for y in range(h):
            for x in range(w):
                v = f(x, y) % 256
                px += bytes([v, v, v])
        return encode_png(w, h, 3, bytes(px))

    def test_perceptual_properties(self):
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            dhash_png,
            resize_png,
        )

        base = self._img(lambda x, y: x * 37 + y * 11)
        tweaked = self._img(
            lambda x, y: (x * 37 + y * 11) + (3 if (x + y) % 7 == 0 else 0)
        )
        other = self._img(lambda x, y: x * 11 + y * 53 + 97)
        hb, db = dhash_png(base)
        ht, dt = dhash_png(tweaked)
        ho, _ = dhash_png(other)
        assert db == dt == "png"

        def ham(a, b):
            return bin((a ^ b) & ((1 << 64) - 1)).count("1")

        assert ham(hb, ht) <= 4  # small perturbation: near-identical hash
        assert ham(hb, ho) >= 10  # unrelated content: far
        # the defining dHash property: a RESIZED copy hashes (near-)equal
        resized = resize_png(base, 40, 32)
        hr, dr = dhash_png(resized)
        assert dr == "png" and ham(hb, hr) <= 4

    def test_stub_branch_deterministic(self):
        import hashlib

        from pos_pipeline_core_etl_spark.operators.multimodal import dhash_png

        payload = "hello world".encode()
        h, dec = dhash_png(payload)
        assert dec == "stub"
        assert h == int(hashlib.md5(payload).hexdigest()[:15], 16)

    def test_spark_map_mixed_payloads(self, spark):
        """The mapInPandas op routes PNG payloads through the real
        decoder and everything else through the stub, per row."""
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            dhash_png,
            image_dhash,
        )

        png = self._img(lambda x, y: x * 37 + y * 11)
        rows = [(1, bytearray(png)), (2, bytearray(b"plain text payload"))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        out = {r["doc_id"]: r for r in image_dhash(df).collect()}
        assert out[1]["decoder"] == "png"
        assert out[2]["decoder"] == "stub"
        assert out[1]["dhash"] == dhash_png(png)[0]

    def test_corrupt_png_yields_error_row(self):
        """PNG magic + undecodable body (corrupt CRC / truncated) must
        produce a deterministic decoder='error' row, never raise —
        one bad image cannot fail the whole job (ADVICE r5)."""
        import hashlib

        from pos_pipeline_core_etl_spark.operators.multimodal import dhash_png

        good = self._img(lambda x, y: x * 37 + y * 11)
        bad_crc = bytearray(good)
        bad_crc[-5] ^= 0xFF
        truncated = good[: len(good) // 2]
        for payload in (bytes(bad_crc), truncated):
            h, dec = dhash_png(payload)
            assert dec == "error"
            assert h == int(hashlib.md5(payload).hexdigest()[:15], 16)

    def test_spark_map_survives_corrupt_png(self, spark):
        """End-to-end: a corrupt PNG payload inside the batch becomes a
        failure row, and the good rows around it are unaffected."""
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            dhash_png,
            image_dhash,
        )

        png = self._img(lambda x, y: x * 37 + y * 11)
        bad = bytearray(png)
        bad[-5] ^= 0xFF
        rows = [(1, bytearray(png)), (2, bad), (3, bytearray(b"plain text"))]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        out = {r["doc_id"]: r for r in image_dhash(df).collect()}
        assert out[1]["decoder"] == "png"
        assert out[2]["decoder"] == "error"
        assert out[3]["decoder"] == "stub"
        assert out[1]["dhash"] == dhash_png(png)[0]


class TestRealPngDecode:
    """The multimodal decode leg handles REAL image bytes (VERDICT r1
    item 8): a genuine PNG is constructed and decoded (stdlib codec) —
    no skip, no fake."""

    @staticmethod
    def _png(width, height, rgb=(255, 0, 0)):
        """Hand-assemble a valid 8-bit RGB PNG (spec-conformant chunks)."""
        import struct
        import zlib

        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
        scanline = b"\x00" + bytes(rgb) * width
        idat = zlib.compress(scanline * height)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )

    def test_decode_png_direct(self):
        from pos_pipeline_core_etl_spark.operators.multimodal import decode_png

        got = decode_png(self._png(1, 1))
        assert got == {"fake_width": 1, "fake_height": 1, "decoder": "png"}
        assert decode_png(self._png(3, 2)) == {
            "fake_width": 3, "fake_height": 2, "decoder": "png",
        }
        assert decode_png(b"not a png") is None
        # corrupt CRC -> hard error, not a silent fake
        bad = bytearray(self._png(1, 1))
        bad[-5] ^= 0xFF
        with pytest.raises(ValueError):
            decode_png(bytes(bad))

    def test_extract_features_decodes_real_bytes(self, spark):
        from pos_pipeline_core_etl_spark.operators.multimodal import extract_features

        rows = [
            (1, bytearray(self._png(4, 3))),
            (2, bytearray(b"plain text payload")),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        got = {r["doc_id"]: r for r in extract_features(df).collect()}
        assert (got[1]["fake_width"], got[1]["fake_height"]) == (4, 3)
        assert got[1]["decoder"] == "png"
        assert got[2]["decoder"] == "stub"  # non-image path unchanged


class TestRealPngResize:
    """The resize leg is REAL for PNG bytes: stdlib decode → unfilter →
    nearest-neighbor resample → re-encode → decode roundtrip."""

    def test_resize_png_roundtrip(self):
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            decode_png_pixels,
            resize_png,
        )

        # 4x3 RGB: left half red, right half blue
        w, h = 4, 3
        px = bytearray()
        for _y in range(h):
            for x in range(w):
                px += bytes((255, 0, 0) if x < 2 else (0, 0, 255))
        from pos_pipeline_core_etl_spark.operators.multimodal import encode_png

        src = encode_png(w, h, 3, bytes(px))
        out = resize_png(src, 2, 2)
        rw, rh, ch, rpx = decode_png_pixels(out)
        assert (rw, rh, ch) == (2, 2, 3)
        # nearest-neighbor keeps the halves: col 0 red, col 1 blue
        assert tuple(rpx[0:3]) == (255, 0, 0)
        assert tuple(rpx[3:6]) == (0, 0, 255)
        assert resize_png(b"not png", 2, 2) is None

    def test_unfilter_paths(self):
        """A PIL-free check that filters 1/2 (Sub/Up) unfilter correctly:
        re-encode with filter 0 always, so roundtripping a hand-filtered
        stream proves the decoder's arithmetic."""
        import struct
        import zlib

        from pos_pipeline_core_etl_spark.operators.multimodal import (
            PNG_MAGIC,
            _png_chunk,
            decode_png_pixels,
        )

        # 2x2 grayscale, row 0 filter=1 (Sub), row 1 filter=2 (Up)
        # actual pixels: row0 = [10, 30], row1 = [15, 40]
        row0 = bytes([1, 10, 20])        # Sub: 10, 10+20=30
        row1 = bytes([2, 5, 10])         # Up: 10+5=15, 30+10=40
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
        png = (
            PNG_MAGIC
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(row0 + row1))
            + _png_chunk(b"IEND", b"")
        )
        w, h, ch, px = decode_png_pixels(png)
        assert (w, h, ch) == (2, 2, 1)
        assert list(px) == [10, 30, 15, 40]

    def test_resize_images_real_path_in_spark(self, spark):
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            encode_png,
            resize_images,
        )

        png = encode_png(4, 4, 3, bytes(range(48)))
        df = spark.createDataFrame(
            [(1, bytearray(png)), (2, bytearray(b"texty"))],
            "doc_id long, payload binary",
        )
        got = {r["doc_id"]: r for r in resize_images(df, width=2, height=2).collect()}
        assert got[1]["resizer"] == "png"
        assert got[1]["n_bytes_out"] > 0
        assert got[2]["resizer"] == "stub"


class TestRepetitionEdgeCases:
    """One-token and empty documents must not crash the bigram leg
    (F.sequence(1, 0) auto-steps DOWN and would index out of bounds
    without the guard) and must agree with the oracle's empty
    generate_series: n_bi = 0 -> dup_bigram_frac = 0.0."""

    def test_empty_and_single_token_docs(self, spark):
        from pos_pipeline_core_etl_spark.operators.text import repetition_signals

        df = spark.createDataFrame(
            [
                (1, ""),
                (2, "   "),
                (3, "hello"),
                (4, "hello hello"),
                (5, "a b a b a b"),
            ],
            "doc_id long, text string",
        )
        got = {r["doc_id"]: r for r in repetition_signals(df).collect()}
        # both Spark's F.split and DuckDB's regexp_split_to_array yield a
        # single empty token for '' — one token, zero bigrams, no crash
        assert got[1]["n_tokens"] == 1
        assert got[1]["dup_bigram_frac"] == 0.0
        assert got[2]["n_tokens"] == 1
        assert got[2]["dup_bigram_frac"] == 0.0
        assert got[3]["n_tokens"] == 1
        assert got[3]["dup_token_frac"] == 0.0
        assert got[3]["dup_bigram_frac"] == 0.0
        assert got[3]["top_token_frac"] == 1.0
        assert got[4]["n_tokens"] == 2
        assert got[4]["dup_token_frac"] == 0.5
        # 6 tokens, bigrams: "a b" x3, "b a" x2 -> 5 bigrams, 2 distinct
        assert got[5]["dup_bigram_frac"] == round(3 / 5, 6)


class TestBucketSizeGuards:
    """A pathological all-identical corpus must not quadratic-explode
    pair expansion (VERDICT r2 item 3): buckets over the cap are
    excluded, and the overflow query reports exactly what was skipped."""

    def test_minhash_cap_completes_and_reports(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import (
            minhash_lsh_candidates,
            minhash_lsh_overflow,
        )

        docs = spark.createDataFrame(
            [(i, "the same exact document body every single time") for i in range(200)],
            "doc_id long, text string",
        )
        pairs = minhash_lsh_candidates(docs, max_bucket_size=50)
        assert pairs.count() == 0  # all 4 band buckets hold 200 docs > cap
        over = minhash_lsh_overflow(docs, max_bucket_size=50).collect()
        assert len(over) == 4  # one hot bucket per band
        assert all(r["n_docs"] == 200 for r in over)
        # uncapped (None) would expand 4 * C(200,2) pair structs; the cap
        # path above finished without materializing any
        assert minhash_lsh_candidates(docs, max_bucket_size=None).count() == 19900

    def test_minhash_cap_is_transparent_on_healthy_corpus(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import minhash_lsh_candidates

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        capped = {
            (r["doc_a"], r["doc_b"]) for r in minhash_lsh_candidates(docs).collect()
        }
        uncapped = {
            (r["doc_a"], r["doc_b"])
            for r in minhash_lsh_candidates(docs, max_bucket_size=None).collect()
        }
        assert capped == uncapped
        assert capped

    def test_embedding_cap_completes_and_reports(self, spark):
        from pos_pipeline_core_etl_spark.operators.similarity import (
            embedding_bucket_overflow,
            embedding_neardup_pairs,
        )

        vec = [1.0, 0.5, -0.25, 2.0]
        emb = spark.createDataFrame(
            [(i, vec) for i in range(100)],
            "vec_id long, embedding array<double>",
        )
        pairs = embedding_neardup_pairs(emb, threshold=0.9, max_bucket_size=10)
        assert pairs.count() == 0
        over = embedding_bucket_overflow(emb, max_bucket_size=10).collect()
        assert len(over) == 1 and over[0]["n_vecs"] == 100
        # identical vectors -> cosine 1.0 on every pair when uncapped
        assert (
            embedding_neardup_pairs(emb, threshold=0.9, max_bucket_size=None).count()
            == 100 * 99 // 2
        )


class TestPngCodecEnvelope:
    """VERDICT r2 item 6: paletted PNGs decode via PLTE lookup, 16-bit
    and corrupt-CRC PNGs fail loudly and surface as explicit error rows."""

    @staticmethod
    def _palette_png():
        import struct
        import zlib

        from pos_pipeline_core_etl_spark.operators.multimodal import (
            PNG_MAGIC,
            _png_chunk,
        )

        # 2x2, color type 3, palette: 0=red 1=green 2=blue
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
        plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
        raw = bytes([0, 0, 1]) + bytes([0, 2, 0])  # filter0 rows: [0,1],[2,0]
        return (
            PNG_MAGIC
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", plte)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    @staticmethod
    def _16bit_png():
        import struct
        import zlib

        from pos_pipeline_core_etl_spark.operators.multimodal import (
            PNG_MAGIC,
            _png_chunk,
        )

        ihdr = struct.pack(">IIBBBBB", 1, 1, 16, 0, 0, 0, 0)
        raw = bytes([0, 0, 0])  # filter byte + one 16-bit gray sample
        return (
            PNG_MAGIC
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )

    def test_paletted_decodes_to_rgb(self):
        from pos_pipeline_core_etl_spark.operators.multimodal import decode_png_pixels

        w, h, ch, px = decode_png_pixels(self._palette_png())
        assert (w, h, ch) == (2, 2, 3)
        assert bytes(px) == bytes(
            [255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 0, 0]  # red green / blue red
        )

    def test_paletted_resizes_real_path(self, spark):
        from pos_pipeline_core_etl_spark.operators.multimodal import resize_images

        df = spark.createDataFrame(
            [(1, bytearray(self._palette_png()))], "doc_id long, payload binary"
        )
        row = resize_images(df, width=4, height=4).collect()[0]
        assert row["resizer"] == "png"
        assert row["n_bytes_out"] > 0

    def test_16bit_rejected_with_error_row(self, spark):
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            decode_png_pixels,
            resize_images,
        )

        with pytest.raises(ValueError, match="16-bit"):
            decode_png_pixels(self._16bit_png())
        df = spark.createDataFrame(
            [(1, bytearray(self._16bit_png()))], "doc_id long, payload binary"
        )
        assert resize_images(df).collect()[0]["resizer"] == "error"

    def test_corrupt_crc_rejected_everywhere(self, spark):
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            decode_png_pixels,
            extract_features,
            resize_images,
        )

        good = self._palette_png()
        bad = good[:-5] + bytes([good[-5] ^ 0xFF]) + good[-4:]
        with pytest.raises(ValueError, match="CRC"):
            decode_png_pixels(bad)
        df = spark.createDataFrame(
            [(1, bytearray(bad))], "doc_id long, payload binary"
        )
        assert resize_images(df).collect()[0]["resizer"] == "error"
        assert extract_features(df).collect()[0]["decoder"] == "error"

    def test_missing_plte_rejected(self):
        import struct
        import zlib

        from pos_pipeline_core_etl_spark.operators.multimodal import (
            PNG_MAGIC,
            _png_chunk,
            decode_png_pixels,
        )

        ihdr = struct.pack(">IIBBBBB", 1, 1, 8, 3, 0, 0, 0)
        png = (
            PNG_MAGIC
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes([0, 0])))
            + _png_chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="PLTE"):
            decode_png_pixels(png)


class TestAsofJoin:
    """Backward as-of join edge cases: no-preceding-row nulls, exact-ts
    inclusion, equal-ts tiebreak, key isolation."""

    def test_semantics(self, spark):
        from pos_pipeline_core_etl_spark.operators.asof import asof_join_backward

        left = spark.createDataFrame(
            [
                (1, 100, "l1"),  # right rows at 50, 90 -> picks 90
                (1, 50, "l2"),   # exact-ts right row at 50 -> picks it
                (1, 10, "l3"),   # nothing at or before 10 -> null
                (2, 100, "l4"),  # key 2 has no right rows at all -> null
            ],
            "k long, ts long, tag string",
        )
        right = spark.createDataFrame(
            [(1, 50, 500), (1, 90, 900), (1, 120, 1200)],
            "k long, rts long, payload long",
        )
        got = {
            r["tag"]: r["payload"]
            for r in asof_join_backward(
                left, right, on="k", left_ts="ts", right_ts="rts",
                payload_cols=["payload"],
            ).collect()
        }
        assert got == {"l1": 900, "l2": 500, "l3": None, "l4": None}

    def test_equal_ts_tiebreak_picks_greatest(self, spark):
        from pos_pipeline_core_etl_spark.operators.asof import asof_join_backward

        left = spark.createDataFrame([(1, 100, "l")], "k long, ts long, tag string")
        right = spark.createDataFrame(
            [(1, 100, 7), (1, 100, 9), (1, 100, 8)], "k long, rts long, payload long"
        )
        row = asof_join_backward(
            left, right, on="k", left_ts="ts", right_ts="rts",
            payload_cols=["payload"], tiebreak_col="payload",
        ).collect()[0]
        assert row["payload"] == 9

    def test_forward_direction(self, spark):
        from pos_pipeline_core_etl_spark.operators.asof import asof_join_backward

        left = spark.createDataFrame(
            [(1, 100, "l1"), (1, 10, "l2"), (1, 300, "l3")],
            "k long, ts long, tag string",
        )
        right = spark.createDataFrame(
            [(1, 50, 500), (1, 100, 1000), (1, 200, 2000)],
            "k long, rts long, payload long",
        )
        got = {
            r["tag"]: r["payload"]
            for r in asof_join_backward(
                left, right, on="k", left_ts="ts", right_ts="rts",
                payload_cols=["payload"], direction="forward",
            ).collect()
        }
        # l1: next at-or-after 100 is 100 itself; l2: 50; l3: nothing
        assert got == {"l1": 1000, "l2": 500, "l3": None}

    def test_bad_direction_rejected(self, spark):
        from pos_pipeline_core_etl_spark.operators.asof import asof_join_backward

        df = spark.range(1)
        with pytest.raises(ValueError, match="direction"):
            asof_join_backward(df, df, on="id", left_ts="id", right_ts="id",
                               payload_cols=[], direction="nearest")

    def test_null_payload_value_is_preserved(self, spark):
        """A legitimately-NULL payload on the matched right row must come
        through as NULL — not be silently replaced by an older right
        row's non-null value (ADVICE r3: struct carry, not per-column)."""
        from pos_pipeline_core_etl_spark.operators.asof import asof_join_backward

        left = spark.createDataFrame([(1, 100, "l")], "k long, ts long, tag string")
        right = spark.createDataFrame(
            [(1, 50, 500), (1, 90, None)], "k long, rts long, payload long"
        )
        row = asof_join_backward(
            left, right, on="k", left_ts="ts", right_ts="rts",
            payload_cols=["payload"],
        ).collect()[0]
        assert row["payload"] is None  # matched row is ts=90, payload NULL

    def test_multi_payload_is_row_atomic(self, spark):
        """All payload columns must be sourced from the SAME right row,
        even when one of them is NULL on the matched row."""
        from pos_pipeline_core_etl_spark.operators.asof import asof_join_backward

        left = spark.createDataFrame([(1, 100, "l")], "k long, ts long, tag string")
        right = spark.createDataFrame(
            [(1, 50, 500, "old"), (1, 90, None, "new")],
            "k long, rts long, a long, b string",
        )
        row = asof_join_backward(
            left, right, on="k", left_ts="ts", right_ts="rts",
            payload_cols=["a", "b"],
        ).collect()[0]
        assert (row["a"], row["b"]) == (None, "new")  # both from ts=90 row

    def test_string_tiebreak_orders_natively(self, spark):
        """A non-numeric tiebreak column must order in its native type —
        the old cast-to-long sent every string id to NULL, silently
        restoring nondeterminism (ADVICE r3)."""
        from pos_pipeline_core_etl_spark.operators.asof import asof_join_backward

        left = spark.createDataFrame([(1, 100, "l")], "k long, ts long, tag string")
        right = spark.createDataFrame(
            [(1, 100, "id_a", 7), (1, 100, "id_c", 9), (1, 100, "id_b", 8)],
            "k long, rts long, rid string, payload long",
        )
        row = asof_join_backward(
            left, right, on="k", left_ts="ts", right_ts="rts",
            payload_cols=["rid", "payload"], tiebreak_col="rid",
        ).collect()[0]
        assert (row["rid"], row["payload"]) == ("id_c", 9)  # greatest rid wins


class TestMadZeroGuard:
    """A zero-MAD group (≥50% of values equal the median) must report no
    anomalies in BOTH twins — Spark's non-ANSI x/0 yields NULL while
    DuckDB's IEEE division yields ±inf, so the unguarded forms
    hash-diverge exactly when it matters (ADVICE r3)."""

    def _write_events(self, tmp_path):
        import pandas as pd

        rows = []
        # near-constant group: median 5, MAD 0; the lone 10 would score inf
        for i, v in enumerate([5.0, 5.0, 5.0, 5.0, 10.0]):
            rows.append((i, "const", v))
        # spread group: median 3, MAD 1; the 100 scores ~65 > 3.5
        for i, v in enumerate([1.0, 2.0, 3.0, 4.0, 100.0]):
            rows.append((100 + i, "spread", v))
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": pd.to_datetime("2024-01-01"),
                "user_id": [1] * len(rows),
                "event_type": [r[1] for r in rows],
                "value": [r[2] for r in rows],
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(tmp_path / "events.parquet")
        return str(tmp_path)

    def test_zero_mad_group_reports_nothing_and_twins_agree(self, spark, tmp_path):
        import duckdb

        from pos_pipeline_core_etl_spark.plans.analytics import (
            EVENTS_MAD_ANOMALIES_SQL,
            events_mad_anomalies,
        )

        sf_dir = self._write_events(tmp_path)
        got = events_mad_anomalies(spark, sf_dir).toPandas()
        assert set(got["event_type"]) == {"spread"}
        assert list(got["event_id"]) == [104]

        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')"
            )
            oracle = con.execute(EVENTS_MAD_ANOMALIES_SQL).fetchdf()
        finally:
            con.close()
        cols = sorted(got.columns)
        a = got[cols].astype(str).sort_values(cols).reset_index(drop=True)
        b = oracle[cols].astype(str).sort_values(cols).reset_index(drop=True)
        assert a.equals(b)


class TestFunnelParameterized:
    """events_funnel takes the step tuple as a parameter; the SQL twin is
    generated from the same tuple. The tie case (step k at the SAME
    timestamp as step k-1) pins the documented >= semantics."""

    def _write_events(self, tmp_path, rows):
        import pandas as pd

        pd.DataFrame(
            {
                "event_id": list(range(len(rows))),
                "ts": pd.to_datetime([r[1] for r in rows]),
                "user_id": [r[0] for r in rows],
                "event_type": [r[2] for r in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(tmp_path / "events.parquet")
        return str(tmp_path)

    def _compare(self, spark, sf_dir, steps):
        import duckdb

        from pos_pipeline_core_etl_spark.plans.analytics import (
            events_funnel,
            funnel_sql,
        )

        got = (
            events_funnel(spark, sf_dir, steps=steps)
            .toPandas()
            .sort_values("step")
            .reset_index(drop=True)
        )
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE VIEW events AS SELECT * FROM "
                f"read_parquet('{sf_dir}/events.parquet')"
            )
            oracle = (
                con.execute(funnel_sql(steps))
                .fetchdf()
                .sort_values("step")
                .reset_index(drop=True)
            )
        finally:
            con.close()
        cols = sorted(got.columns)
        assert got[cols].astype(str).equals(oracle[cols].astype(str))
        return {r["event_type"]: r["n_users"] for _, r in got.iterrows()}

    def test_same_timestamp_tie_counts(self, spark, tmp_path):
        sf_dir = self._write_events(
            tmp_path,
            [
                # user 1: view at the SAME instant as signup -> reaches view
                (1, "2024-01-01 10:00:00", "signup"),
                (1, "2024-01-01 10:00:00", "view"),
                # user 2: view strictly BEFORE signup -> does NOT reach view
                (2, "2024-01-01 09:00:00", "view"),
                (2, "2024-01-01 10:00:00", "signup"),
            ],
        )
        counts = self._compare(spark, sf_dir, ("signup", "view"))
        assert counts == {"signup": 2, "view": 1}

    def test_custom_step_tuple(self, spark, tmp_path):
        sf_dir = self._write_events(
            tmp_path,
            [
                (1, "2024-01-01 09:00:00", "error"),
                (1, "2024-01-01 10:00:00", "click"),
                (2, "2024-01-01 10:00:00", "error"),
                (2, "2024-01-01 09:00:00", "click"),  # click before error
                (3, "2024-01-01 12:00:00", "error"),
            ],
        )
        counts = self._compare(spark, sf_dir, ("error", "click"))
        assert counts == {"error": 3, "click": 1}

    def test_empty_steps_rejected(self, spark):
        from pos_pipeline_core_etl_spark.plans.analytics import (
            events_funnel,
            funnel_sql,
        )

        with pytest.raises(ValueError, match="at least one step"):
            events_funnel(spark, "/root/testdata/sf0.001", steps=())
        with pytest.raises(ValueError, match="at least one step"):
            funnel_sql(())


class TestBloomDecontamination:
    """Bloom decontamination invariants: zero false negatives (a gram in
    the benchmark always hits its own bits), engine-exact bitmap, and a
    map-side-only corpus plan (broadcasts, no corpus shuffle before the
    per-doc aggregation)."""

    def test_no_false_negatives_and_fp_rate(self, spark):
        from pos_pipeline_core_etl_spark.operators.text import (
            BLOOM_BITS,
            decontaminate_bloom,
        )
        from pos_pipeline_core_etl_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        pdf = decontaminate_bloom(docs, spark).toPandas()
        assert len(pdf) > 0
        assert (pdf["n_bloom"] >= pdf["n_exact"]).all()  # no false negatives
        assert (pdf["n_false_pos"] == pdf["n_bloom"] - pdf["n_exact"]).all()
        # fp sanity: clean-gram flag rate should stay well under 50%
        clean = (pdf["n_grams"] - pdf["n_exact"]).sum()
        if clean > 0:
            assert pdf["n_false_pos"].sum() / clean < 0.5

    def test_plan_is_broadcast_only_on_corpus_side(self, spark):
        from pos_pipeline_core_etl_spark.operators.text import decontaminate_bloom
        from pos_pipeline_core_etl_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        plan = (
            decontaminate_bloom(docs, spark)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 1  # exact-gram join
        assert "BroadcastNestedLoopJoin" in plan  # 1-row bloom cross join


class TestCorpusPrepDecisions:
    """The composed corpus-prep recipe: signal drift-guard (prep_signals
    must equal the three standalone ops it fuses), per-doc totality, and
    canonical-id semantics per decision class."""

    def test_prep_signals_match_standalone_ops(self, spark):
        from pos_pipeline_core_etl_spark.operators.text import (
            lang_id,
            prep_signals,
            quality_score,
            repetition_signals,
        )
        from pos_pipeline_core_etl_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        sig = prep_signals(docs).toPandas().set_index("doc_id")
        q = quality_score(docs).toPandas().set_index("doc_id")
        l = lang_id(docs).toPandas().set_index("doc_id")
        r = repetition_signals(docs).toPandas().set_index("doc_id")
        assert (sig["quality"] == q["quality"]).all()
        assert (sig["lang_pred"] == l["lang_pred"]).all()
        assert (sig["dup_token_frac"] == r["dup_token_frac"]).all()

    def test_decision_totality_and_canonical_semantics(self, spark):
        from pos_pipeline_core_etl_spark.plans.llm_ops import corpus_prep_decisions
        from pos_pipeline_core_etl_spark.sources.tables import load_table

        sf = "/root/testdata/sf0.001"
        pdf = corpus_prep_decisions(spark, sf).toPandas()
        n_docs = load_table(spark, sf, "documents").count()
        assert len(pdf) == n_docs  # every doc gets exactly one row
        assert pdf["doc_id"].is_unique
        gate_drops = pdf["decision"].isin(
            ["dropped_lang", "dropped_quality", "dropped_repetition"]
        )
        assert pdf.loc[gate_drops, "canonical_id"].isna().all()
        kept = pdf[pdf["decision"] == "kept"]
        assert (kept["canonical_id"] == kept["doc_id"]).all()
        dedup_drops = pdf[pdf["decision"].isin(["dropped_exact", "dropped_near"])]
        if len(dedup_drops):
            # canonicals must themselves be kept docs
            kept_ids = set(kept["doc_id"])
            assert set(dedup_drops["canonical_id"]).issubset(kept_ids)
            assert (dedup_drops["canonical_id"] != dedup_drops["doc_id"]).all()

    def test_dedup_decisions_canonicals_are_kept(self, spark):
        """Same transitivity contract for the dedup-only table: every
        dropped doc's canonical must itself be a kept doc (round 4 —
        previously an exact-canonical could be a near-dup drop)."""
        from pos_pipeline_core_etl_spark.plans.llm_ops import dedup_decisions

        pdf = dedup_decisions(spark, "/root/testdata/sf0.001").toPandas()
        kept_ids = set(pdf.loc[pdf["decision"] == "kept", "doc_id"])
        dropped = pdf[pdf["decision"] != "kept"]
        assert set(dropped["canonical_id"]).issubset(kept_ids)


class TestSubstringDedup:
    """Token-window substring dedup (operators/dedup.py::
    substring_duplicate_spans): crafted corpus with a known shared
    16-token span."""

    def _docs(self, spark):
        span = " ".join(f"tok{i}" for i in range(16))  # exactly one window
        rows = [
            (1, span),                               # shares the span
            (2, span + " extra trailing words here"),  # shares at pos 0
            (3, " ".join(f"uniq{i}" for i in range(20))),  # no shared span
            (4, "short doc"),                        # < window tokens
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_shared_span_flagged(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import (
            substring_duplicate_spans,
        )

        out = {
            r["doc_id"]: r
            for r in substring_duplicate_spans(self._docs(spark)).collect()
        }
        assert out[1]["n_dup_windows"] == 1 and out[1]["max_window_copies"] == 2
        assert out[2]["n_dup_windows"] >= 1 and out[2]["max_window_copies"] == 2
        assert out[3]["n_dup_windows"] == 0 and out[3]["max_window_copies"] == 1
        # short docs produce zero windows but stay present in the output
        assert out[4]["n_windows"] == 0 and out[4]["max_window_copies"] == 0

    def test_stride_controls_window_count(self, spark):
        """stride=1 anchors every position; stride=8 keeps position 0
        plus positions whose token md5-hash ≡ 0 mod 8 (content-defined
        anchoring — expectation computed with the same hash here)."""
        import hashlib

        from pos_pipeline_core_etl_spark.operators.dedup import (
            substring_duplicate_spans,
        )

        toks = [f"t{i}" for i in range(40)]
        df = spark.createDataFrame([(1, " ".join(toks))], ["doc_id", "text"])
        dense = substring_duplicate_spans(df, window=16, stride=1).collect()[0]
        strided = substring_duplicate_spans(df, window=16, stride=8).collect()[0]
        assert dense["n_windows"] == 40 - 16 + 1

        def anchored(tok: str, stride: int) -> bool:
            return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % stride == 0

        want = sum(
            1 for i in range(40 - 16 + 1) if i == 0 or anchored(toks[i], 8)
        )
        assert strided["n_windows"] == want
        assert strided["n_windows"] < dense["n_windows"]

    def test_misaligned_copy_detected(self, spark):
        """A wholesale copy with ONE token prepended must still be
        flagged: content-defined anchors align window starts on the
        shared text itself, where positional strides (start ≡ 0 mod
        stride per doc) miss every copy whose offset differs mod stride
        (ADVICE r4)."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            substring_duplicate_spans,
        )

        span = " ".join(f"s{i}" for i in range(64))
        rows = [(1, span), (2, "prepended " + span)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {
            r["doc_id"]: r
            for r in substring_duplicate_spans(df).collect()
        }
        assert out[1]["n_dup_windows"] >= 1
        assert out[2]["n_dup_windows"] >= 1
        assert out[2]["max_window_copies"] == 2

    def test_no_quadratic_join_in_plan(self, spark):
        """The plan must contain no cartesian/nested-loop product —
        every join is keyed (wid or doc_id)."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            substring_duplicate_spans,
        )

        plan = substring_duplicate_spans(self._docs(spark))._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestWinnowing:
    """Winnowing fingerprints (operators/dedup.py::winnow_stats /
    winnow_shared_pairs): the Schleimer et al. 2003 coverage guarantee
    and density bound."""

    def test_guaranteed_detection_any_offset(self, spark):
        """ANY copied run of >= k + w - 1 tokens must share a
        fingerprint, for EVERY offset — the guarantee mod-stride
        anchoring lacks. Doc 2 copies doc 1 with o junk tokens
        prepended, for every o in 1..8."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            WINNOW_K,
            WINNOW_W,
            winnow_shared_pairs,
        )

        span = " ".join(f"s{i}" for i in range(30))
        rows = [(0, span)]
        for o in range(1, 9):
            prefix = " ".join(f"junk{o}x{j}" for j in range(o))
            rows.append((o, prefix + " " + span))
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in winnow_shared_pairs(df, min_shared=1).collect()
        }
        assert 30 >= WINNOW_K + WINNOW_W - 1
        for o in range(1, 9):
            assert (0, o) in pairs, f"offset {o} copy missed"

    def test_density_near_expected(self, spark):
        """Selection density on the real corpus ≈ 2/(w+1) (random-text
        expectation) — sanity that the window minima dedup as designed."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            WINNOW_W,
            winnow_stats,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        pdf = winnow_stats(docs).toPandas()
        big = pdf[pdf["n_kgrams"] >= 50]
        assert len(big) > 0
        mean_density = big["density"].mean()
        expected = 2.0 / (WINNOW_W + 1)
        # duplicated fixture text lowers distinct counts; generous band
        assert 0.5 * expected <= mean_density <= 1.5 * expected

    def test_short_doc_empty(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import winnow_stats

        df = spark.createDataFrame(
            [(1, "only three tokens"), (2, "a b c d e f g")], ["doc_id", "text"]
        )
        out = {r["doc_id"]: r for r in winnow_stats(df).collect()}
        assert out[1]["n_fingerprints"] == 0  # 3 < k + w - 1
        assert out[2]["n_fingerprints"] == 1  # exactly one full window

    def test_no_quadratic_join(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import winnow_shared_pairs

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            winnow_shared_pairs(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestBpeTrain:
    """Distributed BPE merge-loop trainer (operators/text.py::bpe_train)
    vs a plain-Python reference implementation of Sennrich et al. 2016."""

    @staticmethod
    def _python_bpe(texts, merges):
        """Sennrich et al. 2016 reference: merge application is re.sub
        with zero-width symbol boundaries — one greedy left-to-right
        pass that DOES merge back-to-back occurrences of the pair
        ('a a a a' → 'aa aa'), the canonical semantics the operator's
        double-space literal replace mirrors (ADVICE r5)."""
        import re
        from collections import Counter

        vocab = Counter()
        for t in texts:
            for w in t.strip().lower().split():
                vocab[" ".join(list(w)) + " </w>"] += 1
        out = []
        for rank in range(1, merges + 1):
            pairs = Counter()
            for seg, freq in vocab.items():
                syms = seg.split(" ")
                for a, b in zip(syms, syms[1:]):
                    pairs[f"{a} {b}"] += freq
            if not pairs:
                break
            # (count desc, pair asc) tie-break, as the operator
            pair = min(pairs, key=lambda p: (-pairs[p], p))
            merged = pair.replace(" ", "")
            out.append((rank, pair, merged, pairs[pair]))
            pat = re.compile(r"(?<!\S)" + re.escape(pair) + r"(?!\S)")
            vocab = Counter({pat.sub(merged, seg): f for seg, f in vocab.items()})
        return out

    def test_matches_python_reference(self, spark):
        from pos_pipeline_core_etl_spark.operators.text import bpe_train

        texts = [
            "low low low low lower lower",
            "newest newest newest widest widest",
            "low newest",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = [
            (r["merge_rank"], r["pair"], r["merged"], r["n"])
            for r in bpe_train(df, merges=5).orderBy("merge_rank").collect()
        ]
        want = self._python_bpe(texts, 5)
        assert got == want

    def test_repeated_pair_merges_in_one_pass(self, spark):
        """Back-to-back occurrences of the winning pair inside one word
        must all merge in a single pass ('a a a a' → 'aa aa'), the
        canonical Sennrich semantics — the single-space literal replace
        could not do this because consecutive matches shared the
        delimiter space (ADVICE r5)."""
        from pos_pipeline_core_etl_spark.operators.text import bpe_train

        texts = ["aaaa aaaa aaaa", "aa bb"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        got = [
            (r["merge_rank"], r["pair"], r["merged"], r["n"])
            for r in bpe_train(df, merges=4).orderBy("merge_rank").collect()
        ]
        want = self._python_bpe(texts, 4)
        assert got == want
        # merge 1 is (a,a); the later 'aa aa</w>' merge only exists if
        # 'aaaa' collapsed to 'aa aa </w>' in ONE pass — the
        # single-space replace would have produced 'aa a a </w>'
        assert got[0][1] == "a a"
        assert "aa aa</w>" in [g[1] for g in got]

    def test_fast_trainer_identical_to_distributed(self, spark):
        """bpe_train_fast (driver-side incremental pair-delta loop,
        VERDICT r5 #4) must emit the identical merge table to the
        distributed per-merge-job trainer."""
        from pos_pipeline_core_etl_spark.operators.text import (
            bpe_train,
            bpe_train_fast,
        )

        texts = [
            "low low low low lower lower",
            "newest newest newest widest widest",
            "aaaa aaaa low newest",
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        slow = [tuple(r) for r in bpe_train(df, merges=8).orderBy("merge_rank").collect()]
        fast = [
            tuple(r) for r in bpe_train_fast(df, merges=8).orderBy("merge_rank").collect()
        ]
        assert fast == slow == [tuple(t) for t in self._python_bpe(texts, 8)]

    def test_fast_trainer_vocab_guard(self, spark):
        from pos_pipeline_core_etl_spark.operators.text import bpe_train_fast

        df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="max_vocab"):
            bpe_train_fast(df, merges=1, max_vocab=2)

    def test_apply_with_known_merges(self, spark):
        """bpe_apply with an explicit merge table: 'low' under merges
        (l o → lo, lo w → low, low </w> → low</w>) collapses to ONE
        token; an untouched word stays at chars+1 symbols."""
        from pos_pipeline_core_etl_spark.operators.text import bpe_apply

        df = spark.createDataFrame([(1, "low xyz")], ["doc_id", "text"])
        merges = [("l o", "lo"), ("lo w", "low"), ("low </w>", "low</w>")]
        row = bpe_apply(df, merges=merges).collect()[0]
        # 'low</w>' = 1 token; 'x y z </w>' = 4 tokens
        assert row["n_bpe_tokens"] == 1 + 4
        assert row["n_chars_seg"] == 6  # lowxyz

    def test_train_then_apply_consistent(self, spark):
        """End-to-end: applying the learned table must never produce
        MORE tokens than the unmerged segmentation (chars + one marker
        per word), and merges strictly reduce the count on a corpus
        with repeated words."""
        from pos_pipeline_core_etl_spark.operators.text import bpe_apply

        texts = ["low low low lower lower", "lowest lowest low"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
        )
        out = {r["doc_id"]: r for r in bpe_apply(df, n_merges=4).collect()}
        for i, t in enumerate(texts):
            words = t.split()
            unmerged = sum(len(w) + 1 for w in words)
            assert out[i]["n_bpe_tokens"] < unmerged

    def test_stops_when_corpus_fully_merged(self, spark):
        """A corpus whose every word collapses before the merge budget
        is spent must return the shorter merge table, not crash."""
        from pos_pipeline_core_etl_spark.operators.text import bpe_train

        df = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
        got = bpe_train(df, merges=10).collect()
        # " a b </w> " → merge1 "a b"→"ab", merge2 "ab </w>" → done
        assert len(got) == 2
        assert got[0]["pair"] == "a b"
        assert got[1]["merged"] == "ab</w>"


class TestKmeansLloyd:
    """Distributed Lloyd k-means (operators/similarity.py::kmeans_lloyd):
    semantics vs a numpy reference with identical init/quantization, and
    the no-data-sized-join plan contract."""

    @staticmethod
    def _numpy_lloyd(vecs, k, iters, quant=1 << 20):
        import numpy as np

        vq = np.floor(vecs * quant + 0.5).astype("int64")
        v = vq / float(quant)
        cents = {i: v[i].copy() for i in range(k)}  # seed = k lowest ids
        assign = None
        for _ in range(iters):
            keys = sorted(cents)
            d2 = np.stack([((v - cents[c]) ** 2).sum(axis=1) for c in keys], axis=1)
            assign = np.array([keys[i] for i in np.argmin(d2, axis=1)])
            new = {}
            for c in keys:
                m = assign == c
                new[c] = (
                    vq[m].sum(axis=0) / (m.sum() * float(quant)) if m.any() else cents[c]
                )
            cents = new
        return assign

    def test_matches_numpy_reference(self, spark):
        import numpy as np

        from pos_pipeline_core_etl_spark.operators.similarity import kmeans_lloyd

        rng = np.random.default_rng(11)
        centers = rng.normal(0, 2, (3, 6))
        vecs = np.concatenate(
            [centers[i] + rng.normal(0, 0.3, (20, 6)) for i in range(3)]
        )
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = (
            kmeans_lloyd(df, k=3, iters=2)
            .orderBy("vec_id")
            .toPandas()["cluster"]
            .to_numpy()
        )
        want = self._numpy_lloyd(vecs, k=3, iters=2)
        assert (got == want).all()

    def test_empty_cluster_inherits_seed(self, spark):
        """Two identical seed vectors: the tie-break empties the higher
        cluster, whose centroid must persist without crashing."""
        from pos_pipeline_core_etl_spark.operators.similarity import kmeans_lloyd

        rows = [
            (0, [0.0, 0.0]),
            (1, [0.0, 0.0]),  # seed identical to seed 0 -> cluster 1 empty
            (2, [10.0, 10.0]),
            (3, [0.1, 0.1]),
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        # iter 1: exact ties all break to the LOWER cluster id -> 1 empty
        one = kmeans_lloyd(df, k=2, iters=1).toPandas()
        assert (one["cluster"] == 0).all()
        # iter 2: cluster 1 kept its seed centroid [0,0]; after cluster
        # 0's centroid moved to the mean, the near-zero points flip to 1
        two = {r.vec_id: r.cluster for r in kmeans_lloyd(df, k=2, iters=2).toPandas().itertuples()}
        assert two[2] == 0 and two[0] == 1 and two[1] == 1 and two[3] == 1

    def test_iters_zero_rejected(self, spark):
        """iters=0 must raise loudly instead of crashing downstream in
        the final select with assigned=None (ADVICE r4)."""
        import pytest

        from pos_pipeline_core_etl_spark.operators.similarity import kmeans_lloyd

        df = spark.createDataFrame([(0, [0.0, 1.0])], ["vec_id", "embedding"])
        with pytest.raises(ValueError, match="iters"):
            kmeans_lloyd(df, k=1, iters=0)

    def test_no_data_sized_join(self, spark):
        """Assignment must ride a 1-row broadcast, never an N x k
        SortMergeJoin or cartesian over the corpus."""
        from pos_pipeline_core_etl_spark.operators.similarity import kmeans_lloyd

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = (
            kmeans_lloyd(emb)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_assign_to_centroids_matches_final_assignment(self, spark):
        """The serving half re-derives the trainer's final assignment
        from the centroids that produced it, vector for vector."""
        import numpy as np

        from pos_pipeline_core_etl_spark.operators.similarity import (
            _kmeans_assignments,
            assign_to_centroids,
        )

        rng = np.random.default_rng(23)
        centers = rng.normal(0, 1, (3, 6))
        vecs = np.concatenate(
            [centers[i] + rng.normal(0, 0.8, (15, 6)) for i in range(3)]
        )
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        assigned, cents = _kmeans_assignments(df, k=3, iters=2, with_centroids=True)
        want = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
        got = {r["vec_id"]: r["cluster"] for r in assign_to_centroids(df, cents).collect()}
        assert len(want) == len(vecs)
        assert got == want


class TestDedupSpanRemoval:
    """Keep-one duplicated-span removal (operators/dedup.py::
    remove_duplicate_spans)."""

    def test_keeper_keeps_others_lose(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import (
            remove_duplicate_spans,
        )

        span = " ".join(f"tok{i}" for i in range(16))
        rows = [
            (1, span + " unique tail one"),
            (2, span + " other tail here two"),
            (3, "independent words only"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in remove_duplicate_spans(df).collect()}
        # doc 1 is the keeper: nothing removed
        assert out[1]["n_removed_tokens"] == 0
        assert out[1]["cleaned_text"].startswith("tok0 tok1")
        # doc 2 loses exactly the 16-token span, keeps its tail
        assert out[2]["n_removed_tokens"] == 16
        assert out[2]["cleaned_text"] == "other tail here two"
        # untouched doc is identical
        assert out[3]["cleaned_text"] == "independent words only"

    def test_misaligned_copy_spans_removed(self, spark):
        """Span removal must fire on a copy with one token prepended —
        the offset-mod-stride miss mode of positional strides (ADVICE
        r4). Expected removals computed with the same content-anchor
        model in plain Python."""
        import hashlib

        from pos_pipeline_core_etl_spark.operators.dedup import (
            remove_duplicate_spans,
        )

        span_toks = [f"s{i}" for i in range(64)]
        rows = [
            (1, " ".join(span_toks)),
            (2, "prepended " + " ".join(span_toks)),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in remove_duplicate_spans(df).collect()}
        # doc 1 (lowest id) keeps every shared span
        assert out[1]["n_removed_tokens"] == 0

        def h(tok: str) -> int:
            return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)

        # windows shared by both docs anchor at s_i with hash ≡ 0 mod 8;
        # in doc 2 they sit one position later (the prepended token)
        shared = [i for i in range(64 - 16 + 1) if h(span_toks[i]) % 8 == 0]
        removed: set[int] = set()
        for i in shared:
            removed.update(range(i + 1, i + 17))
        assert len(removed) > 0
        assert out[2]["n_removed_tokens"] == len(removed)

    def test_original_case_preserved(self, spark):
        """Windows hash lowercased tokens, but the rebuilt text must
        keep the ORIGINAL casing of surviving tokens."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            remove_duplicate_spans,
        )

        span = " ".join(f"tok{i}" for i in range(16))
        rows = [(1, span), (2, span.upper() + " Tail")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in remove_duplicate_spans(df).collect()}
        assert out[2]["n_removed_tokens"] == 16  # matched case-insensitively
        assert out[2]["cleaned_text"] == "Tail"  # original case survives


class TestProductQuantization:
    """PQ encoding (operators/similarity.py::pq_encode) vs a numpy
    reference running the identical per-subspace quantized Lloyd."""

    @staticmethod
    def _numpy_pq(vecs, m, k, iters, quant=1 << 20):
        import numpy as np

        n, dim = vecs.shape
        sub_d = dim // m
        vq = np.floor(vecs * quant + 0.5).astype("int64")
        codes = np.zeros((n, m), dtype="int64")
        for s in range(m):
            sv = vq[:, s * sub_d : (s + 1) * sub_d]
            v = sv / float(quant)
            cents = {i: v[i].copy() for i in range(k)}
            assign = None
            for _ in range(iters):
                keys = sorted(cents)
                d2 = np.stack(
                    [((v - cents[c]) ** 2).sum(axis=1) for c in keys], axis=1
                )
                assign = np.array([keys[i] for i in np.argmin(d2, axis=1)])
                new = {}
                for c in keys:
                    mask = assign == c
                    new[c] = (
                        sv[mask].sum(axis=0) / (mask.sum() * float(quant))
                        if mask.any()
                        else cents[c]
                    )
                cents = new
            codes[:, s] = assign
        return codes

    def test_matches_numpy_reference(self, spark):
        import numpy as np

        from pos_pipeline_core_etl_spark.operators.similarity import pq_encode

        rng = np.random.default_rng(5)
        vecs = rng.normal(0, 1, (40, 8))
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        got = (
            pq_encode(df, m=4, k=3, iters=2, dim=8)
            .orderBy("vec_id", "sub")
            .toPandas()
        )
        want = self._numpy_pq(vecs, m=4, k=3, iters=2)
        got_codes = got["code"].to_numpy().reshape(len(vecs), 4)
        assert (got_codes == want).all()

    def test_invalid_args_rejected(self, spark):
        import pytest

        from pos_pipeline_core_etl_spark.operators.similarity import pq_encode

        df = spark.createDataFrame([(0, [0.0] * 8)], ["vec_id", "embedding"])
        with pytest.raises(ValueError, match="iters"):
            pq_encode(df, iters=0, dim=8, m=4)
        with pytest.raises(ValueError, match="divisible"):
            pq_encode(df, m=3, dim=8)

    def test_no_data_sized_join(self, spark):
        """Codebooks ride an m-row broadcast; the corpus must never hit
        a SortMergeJoin or cartesian."""
        from pos_pipeline_core_etl_spark.operators.similarity import pq_encode

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = pq_encode(emb)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "SortMergeJoin" not in plan

    def test_one_subspace_is_kmeans(self, spark):
        """PQ with m=1 trains one codebook over the whole vector, which
        is Lloyd k-means: same seeds, same labels, same codes."""
        import numpy as np

        from pos_pipeline_core_etl_spark.operators.similarity import (
            kmeans_lloyd,
            pq_encode,
        )

        rng = np.random.default_rng(31)
        vecs = rng.normal(0, 1, (40, 6))
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        codes = pq_encode(df, m=1, k=4, iters=3, dim=6).collect()
        assert {r["sub"] for r in codes} == {0}
        got = {r["vec_id"]: r["code"] for r in codes}
        want = {r["vec_id"]: r["cluster"] for r in kmeans_lloyd(df, k=4, iters=3).collect()}
        assert len(want) == len(vecs)
        assert got == want

    def test_adc_identical_vector_ranks_first(self, spark):
        """ADC lower bound: a candidate sharing ALL the query's codes
        achieves the minimal possible table-lookup distance, so an
        exact copy of the query must rank first."""
        import numpy as np

        from pos_pipeline_core_etl_spark.operators.similarity import pq_adc_topk

        rng = np.random.default_rng(3)
        vecs = rng.normal(0, 1, (24, 8))
        vecs[20] = vecs[3]  # exact copy of query 3
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = pq_adc_topk(df, k=1, n_queries=10, m=4, n_codes=4, dim=8).collect()
        top1 = {r["query_id"]: r["cand_id"] for r in out}
        assert top1[3] == 20

    def test_adc_no_quadratic_join(self, spark):
        from pos_pipeline_core_etl_spark.operators.similarity import pq_adc_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = pq_adc_topk(emb)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_ivfpq_candidates_only_from_probed_lists(self, spark):
        """Structural IVF contract: every returned candidate's coarse
        cluster must be one of its query's nprobe probed clusters —
        the corpus outside the probed inverted lists is never scored."""
        from pyspark.sql import functions as F2

        from pos_pipeline_core_etl_spark.operators.similarity import (
            IVF_N_CLUSTERS,
            IVF_NPROBE,
            _as_double,
            centroid_d2,
            ivfpq_search_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        out = ivfpq_search_topk(emb).collect()
        assert out, "fixture must produce results"

        base = emb.select(
            F2.col("vec_id"), _as_double(F2.col("embedding")).alias("vec")
        )
        structs = [
            F2.struct(centroid_d2("vec", c).alias("d"), F2.lit(c).alias("c"))
            for c in range(IVF_N_CLUSTERS)
        ]
        assigned = {
            r["vec_id"]: r["cluster"]
            for r in base.select(
                "vec_id", F2.least(*structs).getField("c").alias("cluster")
            ).collect()
        }
        probed = {
            r["vec_id"]: [p["c"] for p in r["probes"]]
            for r in base.select(
                "vec_id",
                F2.slice(F2.array_sort(F2.array(*structs)), 1, IVF_NPROBE).alias(
                    "probes"
                ),
            ).collect()
        }
        for r in out:
            assert assigned[r["cand_id"]] in probed[r["query_id"]]

    def test_ivfpq_identical_vector_ranks_first(self, spark):
        """An exact copy of the query lands in the same inverted list
        with identical residual codes → minimal ADC distance → rank 1."""
        import numpy as np

        from pos_pipeline_core_etl_spark.operators.similarity import (
            ivfpq_search_topk,
        )

        rng = np.random.default_rng(9)
        vecs = rng.normal(0, 1, (30, 8))
        vecs[25] = vecs[4]
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        out = ivfpq_search_topk(
            df, k=1, n_queries=10, nprobe=2, n_clusters=4, m=4, n_codes=4, dim=8
        ).collect()
        top1 = {r["query_id"]: r["cand_id"] for r in out}
        assert top1[4] == 25


class TestKmeansDeterminism:
    def test_partition_order_invariant(self, spark):
        """The integer-quantized centroid sums make assignments
        independent of partition count and row arrival order — the
        contract that keeps the DuckDB oracle bit-exact and cluster
        runs reproducible."""
        from pos_pipeline_core_etl_spark.operators.similarity import kmeans_lloyd

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        a = {r["vec_id"]: r["cluster"] for r in kmeans_lloyd(emb).collect()}
        shuffled = emb.repartition(17, "label").sortWithinPartitions(
            F.col("vec_id").desc()
        )
        b = {r["vec_id"]: r["cluster"] for r in kmeans_lloyd(shuffled).collect()}
        assert a == b


class TestIvfPqRecall:
    """Search-QUALITY floor for the ANN family (VERDICT r5 #2): the
    sim_ivfpq_recall audit measured recall@3 = 0 for the fixed-grid
    IVF-PQ on this data (chance-level list locality + ADC noise); the
    learned-quantizer + exact-refine variant is the fix. These pins
    keep the quality claim honest every round."""

    @staticmethod
    def _mean_recall(spark, df):
        rows = df.collect()
        return sum(r["n_hit"] for r in rows) / sum(r["n_exact"] for r in rows)

    def test_kmeans_variant_beats_grid(self, spark):
        from pos_pipeline_core_etl_spark.plans.llm_ops import (
            sim_ivfpq_kmeans_recall,
            sim_ivfpq_recall,
        )

        sf = "/root/testdata/sf0.001"
        grid = self._mean_recall(spark, sim_ivfpq_recall(spark, sf))
        learned = self._mean_recall(spark, sim_ivfpq_kmeans_recall(spark, sf))
        # measured this round: grid 0.0, learned 0.83 — require a real
        # gap, not a tie, and an absolute floor for the learned path
        assert learned >= grid + 0.3
        assert learned >= 0.6

    def test_recall_sweep_monotonicity_and_cost(self, spark):
        """The operating-curve invariants that make the sweep a usable
        tuning artifact: ADC-scored candidate count is non-decreasing
        in nprobe (it's the cost axis), recall is non-decreasing in
        refine_depth at fixed nprobe (deeper shortlists can only add
        true neighbors), and the pinned default (IVF_NPROBE,
        IVFPQ_REFINE) is on the grid."""
        from pos_pipeline_core_etl_spark.operators.similarity import (
            IVF_NPROBE,
            IVFPQ_REFINE,
            IVFPQ_SWEEP_NPROBES,
            IVFPQ_SWEEP_REFINES,
            ivfpq_kmeans_recall_sweep,
        )

        assert IVF_NPROBE in IVFPQ_SWEEP_NPROBES
        assert IVFPQ_REFINE in IVFPQ_SWEEP_REFINES
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        rows = ivfpq_kmeans_recall_sweep(emb).collect()
        assert len(rows) == len(IVFPQ_SWEEP_NPROBES) * len(IVFPQ_SWEEP_REFINES)
        by_np = {}
        for r in rows:
            by_np.setdefault(r.nprobe, []).append(r)
        costs = [grp[0].n_scored for _, grp in sorted(by_np.items())]
        assert costs == sorted(costs)
        for _, grp in by_np.items():
            grp.sort(key=lambda r: r.refine_depth)
            recalls = [r.recall for r in grp]
            assert recalls == sorted(recalls)

    def test_kmeans_ivfpq_no_quadratic_join(self, spark):
        """The learned-quantizer path must stay relational: no
        cartesian corpus×corpus leg, no driver collect — the centroid
        and ADC tables are broadcast, candidates confined to probed
        lists."""
        from pos_pipeline_core_etl_spark.operators.similarity import (
            ivfpq_kmeans_search_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = (
            ivfpq_kmeans_search_topk(emb)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan

    def test_refine_returns_exact_distances(self, spark):
        """The refine stage ranks by EXACT distance, so every returned
        (query, cand) distance must equal the brute-force value for
        that pair — quantization error never leaks into the output."""
        from pos_pipeline_core_etl_spark.operators.similarity import (
            ivfpq_kmeans_search_topk,
            l2_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        got = {
            (r["query_id"], r["cand_id"]): r["d2"]
            for r in ivfpq_kmeans_search_topk(emb).collect()
        }
        exact = {
            (r["query_id"], r["cand_id"]): r["d2"]
            for r in l2_topk(emb, k=200, n_queries=10).collect()
        }
        assert got  # non-empty result
        for pair, d2 in got.items():
            assert pair in exact
            # l2_topk uses raw doubles, the index uses vq/Q rationals —
            # identical to quantization precision (1/2^20 per comp)
            assert abs(exact[pair] - d2) < 1e-4


class TestIncrementalDiffDedup:
    """Snapshot-diff-driven incremental dedup (plans/llm_ops.py::
    dedup_incremental_diff): the diff slice is exact, the composition
    equals hand-wiring the same stages, and the plan never builds a
    corpus-sized candidate leg."""

    SF = "/root/testdata/sf0.001"

    def _snapshot(self, spark):
        docs = spark.read.parquet(f"{self.SF}/documents.parquet")
        new_text = F.when(
            F.col("doc_id") % 17 == 3, F.upper(F.col("text"))
        ).otherwise(F.col("text"))
        new = docs.where(F.col("doc_id") % 13 != 5).select(
            "doc_id", new_text.alias("text")
        )
        old = docs.where(F.col("doc_id") % 10 != 7).select("doc_id", "text")
        return old, new

    def test_diff_slice_is_exact(self, spark):
        from pos_pipeline_core_etl_spark.plans.llm_ops import dedup_incremental_diff

        old, new = self._snapshot(spark)
        old_map = {r["doc_id"]: r["text"] for r in old.collect()}
        want = {}
        for r in new.collect():
            if r["doc_id"] not in old_map:
                want[r["doc_id"]] = "added"
            elif old_map[r["doc_id"]] != r["text"]:
                want[r["doc_id"]] = "changed"
        got = {
            r["doc_id"]: r["status"]
            for r in dedup_incremental_diff(spark, self.SF).collect()
        }
        assert got == want
        assert "added" in got.values() and "changed" in got.values()

    def test_composition_equals_hand_wiring(self, spark):
        """The composed query must decide exactly what
        incremental_decisions(unchanged, diff) decides when the slices
        are built independently."""
        from pos_pipeline_core_etl_spark.operators.dedup import (
            incremental_decisions,
        )
        from pos_pipeline_core_etl_spark.plans.llm_ops import dedup_incremental_diff

        old, new = self._snapshot(spark)
        old_map = {r["doc_id"]: r["text"] for r in old.collect()}
        rows = new.collect()
        diff_rows = [
            (r["doc_id"], r["text"])
            for r in rows
            if r["doc_id"] not in old_map or old_map[r["doc_id"]] != r["text"]
        ]
        same_rows = [
            (r["doc_id"], r["text"])
            for r in rows
            if r["doc_id"] in old_map and old_map[r["doc_id"]] == r["text"]
        ]
        corpus = spark.createDataFrame(same_rows, ["doc_id", "text"])
        batch = spark.createDataFrame(diff_rows, ["doc_id", "text"])
        want = {
            r["doc_id"]: (r["decision"], r["dup_of"])
            for r in incremental_decisions(corpus, batch).collect()
        }
        got = {
            r["doc_id"]: (r["decision"], r["dup_of"])
            for r in dedup_incremental_diff(spark, self.SF).collect()
        }
        assert got == want

    def test_no_corpus_sized_candidate_leg(self, spark):
        from pos_pipeline_core_etl_spark.plans.llm_ops import dedup_incremental_diff

        plan = (
            dedup_incremental_diff(spark, self.SF)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


class TestDecodeCoverage:
    def test_mixed_payload_coverage_counts(self, spark):
        """The coverage report's png/stub/error branches on a corpus
        with real, corrupt and non-image payloads — the denominator a
        user needs before trusting perceptual near-dup results."""
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            encode_png,
            image_dhash,
        )

        px = bytes(bytearray(range(16)) * 3)  # 4x4 gray-ish RGB
        png = encode_png(4, 4, 3, px)
        bad = bytearray(png)
        bad[-5] ^= 0xFF
        from pos_pipeline_core_etl_spark.operators.jpeg import encode_jpeg_gray

        jpg = encode_jpeg_gray(8, 8, bytes(range(192, 256)))
        bad_jpg = jpg[:-10]  # truncated entropy data
        rows = [
            (1, bytearray(png)),
            (2, bytes(bad)),
            (3, b"plain text"),
            (4, b"more text"),
            (5, jpg),
            (6, bad_jpg),
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        out = image_dhash(df).groupBy("decoder").count().collect()
        got = {r["decoder"]: r["count"] for r in out}
        assert got == {"png": 1, "jpeg": 1, "error": 2, "stub": 2}


class TestBuildManifest:
    def test_total_row_is_consistent_and_single_pass(self, spark):
        """The grand-total row (shard_id = -1) must equal the shard rows
        aggregated: same doc count, token total, and xor-combined
        checksum (bit_xor is associative, so the rollup total IS the
        xor of the shard checksums). And the TOTAL row comes from the
        same rollup pass, not a second scan — one Expand, no Union."""
        from functools import reduce

        from pos_pipeline_core_etl_spark.plans.llm_ops import corpus_build_manifest

        df = corpus_build_manifest(spark, "/root/testdata/sf0.001")
        rows = {r["shard_id"]: r for r in df.collect()}
        total = rows.pop(-1)
        assert total["n_docs"] == sum(r["n_docs"] for r in rows.values())
        assert total["token_total"] == sum(r["token_total"] for r in rows.values())
        assert total["checksum"] == reduce(
            lambda a, b: a ^ b, (r["checksum"] for r in rows.values())
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Union" not in plan


class TestMultimodalDedupDecisions:
    def test_staged_equals_full_graph_components(self, spark):
        """The staged form (signature groups collapsed before banding)
        must reproduce EXACTLY the components of the full doc-level
        near-dup graph: same-signature docs are distance-0 near-dups,
        so components over representatives + group membership IS the
        full transitive closure. Reference: python union-find over ALL
        doc pairs with Hamming <= 3 (the fixture's buckets stay under
        the cap, where banding is total by the pigeonhole guarantee)."""
        import hashlib

        from pos_pipeline_core_etl_spark.plans.llm_ops import (
            DHASH_DUP_OFFSET,
            DHASH_DUP_SLICE,
            multimodal_dedup_decisions,
        )

        sf = "/root/testdata/sf0.001"
        docs = spark.read.parquet(f"{sf}/documents.parquet").collect()
        sig = {}
        for r in docs:
            h = int(hashlib.md5(r["text"].encode()).hexdigest()[:15], 16)
            sig[r["doc_id"]] = h
            if r["doc_id"] < DHASH_DUP_SLICE:
                sig[r["doc_id"] + DHASH_DUP_OFFSET] = h
        ids = sorted(sig)
        parent = {i: i for i in ids}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                if bin(sig[a] ^ sig[b]).count("1") <= 3:
                    ra, rb = find(a), find(b)
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
        want = {i: min(j for j in ids if find(j) == find(i)) for i in ids}
        got = {
            r["doc_id"]: r["canonical_id"]
            for r in multimodal_dedup_decisions(spark, sf).collect()
        }
        assert got == want
        assert any(v != k for k, v in got.items())  # dup slice exercises drops


class TestJpegCodec:
    """Baseline JFIF grayscale codec (operators/jpeg.py, pure stdlib,
    public ITU-T T.81 spec): round-trip within quantization error,
    cross-format perceptual-hash agreement, and loud rejection of the
    unsupported JPEG subset."""

    def _ramp(self, w, h):
        return bytes(
            min(255, (x * 200) // w + (y * 40) // h) for y in range(h) for x in range(w)
        )

    def test_round_trip_within_quantization_error(self):
        from pos_pipeline_core_etl_spark.operators.jpeg import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        w, h = 37, 21  # non-multiple-of-8 exercises edge-replicate padding
        px = self._ramp(w, h)
        dw, dh, out = decode_jpeg_gray(encode_jpeg_gray(w, h, px))
        assert (dw, dh) == (w, h)
        errs = [abs(a - b) for a, b in zip(px, out)]
        assert max(errs) <= 16 and sum(errs) / len(errs) < 4.0

    def test_cross_format_dhash_agreement(self):
        """A PNG and a JPEG of the SAME image must hash near-equal —
        the hash is computed on decoded pixels, so near-dup detection
        works ACROSS container formats (no byte-level fingerprint
        can)."""
        from pos_pipeline_core_etl_spark.operators.jpeg import encode_jpeg_gray
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            dhash_png,
            encode_png,
        )

        w, h = 64, 48
        px = self._ramp(w, h)
        h_png, dec_png = dhash_png(encode_png(w, h, 1, px))
        h_jpg, dec_jpg = dhash_png(encode_jpeg_gray(w, h, px))
        assert (dec_png, dec_jpg) == ("png", "jpeg")
        assert bin(h_png ^ h_jpg).count("1") <= 2

    def test_unsupported_subset_raises(self):
        import pytest as _pytest

        from pos_pipeline_core_etl_spark.operators.jpeg import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )

        jpg = bytearray(encode_jpeg_gray(16, 16, bytes(range(256))))
        sof = jpg.index(b"\xff\xc0")
        progressive = bytes(jpg[:sof + 1]) + b"\xc2" + bytes(jpg[sof + 2:])
        with _pytest.raises(ValueError, match="non-baseline"):
            decode_jpeg_gray(progressive)
        assert decode_jpeg_gray(b"not an image") is None

    def test_huffman_tables_self_consistent(self):
        """Annex C construction: codes are prefix-free and complete for
        the Annex K specs (every encoder symbol decodable)."""
        from pos_pipeline_core_etl_spark.operators.jpeg import (
            AC_BITS,
            AC_VALS,
            DC_BITS,
            DC_VALS,
            _huff_codes,
            _huff_decode_table,
        )

        for bits, vals in [(DC_BITS, DC_VALS), (AC_BITS, AC_VALS)]:
            enc = _huff_codes(bits, vals)
            dec = _huff_decode_table(bits, vals)
            assert len(enc) == len(vals) == len(dec)
            for v, (code, ln) in enc.items():
                assert dec[(ln, code)] == v
            # prefix-free: no code is a prefix of a longer one
            codes = sorted(((ln, code) for code, ln in enc.values()))
            for ln_a, a in codes:
                for ln_b, b in codes:
                    if ln_a < ln_b:
                        assert (b >> (ln_b - ln_a)) != a


class TestJpegResize:
    def test_resize_jpeg_real_path(self, spark):
        """A JPEG payload takes the REAL resize path: decode → resample
        → re-encode; the output decodes at the target dimensions and
        the operator labels the row resizer='jpeg'."""
        from pos_pipeline_core_etl_spark.operators.jpeg import (
            decode_jpeg_gray,
            encode_jpeg_gray,
        )
        from pos_pipeline_core_etl_spark.operators.multimodal import (
            resize_images,
            resize_jpeg,
        )

        w, h = 40, 24
        px = bytes(min(255, (x * 200) // w + (y * 40) // h) for y in range(h) for x in range(w))
        jpg = encode_jpeg_gray(w, h, px)
        out = resize_jpeg(jpg, 16, 12)
        dw, dh, _ = decode_jpeg_gray(out)
        assert (dw, dh) == (16, 12)

        df = spark.createDataFrame([(1, jpg), (2, b"text")], "doc_id long, payload binary")
        rows = {r["doc_id"]: r["resizer"] for r in resize_images(df, 16, 12).collect()}
        assert rows == {1: "jpeg", 2: "stub"}


class TestContainment:
    """Broder containment (doc-in-doc) — operators/dedup.py round 6."""

    def _docs(self, spark):
        # doc 1 is a 30-word snippet embedded verbatim inside doc 0's
        # 60-word body: containment(1 in 0) = 1.0, Jaccard ~ 0.5 below
        # the LSH band threshold; 30 words -> 28 shingles so the 1/4
        # deterministic sample keeps several
        body = " ".join(f"w{i % 37} t{i % 11} q{i}" for i in range(20))
        snippet = " ".join(body.split()[6:36])
        other = " ".join(f"z{i} y{i % 7} x{i % 5}" for i in range(20))
        return spark.createDataFrame(
            [(0, body), (1, snippet), (2, other)], "doc_id long, text string"
        )

    def test_detects_embedded_doc(self, spark):
        from pos_pipeline_core_etl_spark.operators import dedup

        docs = self._docs(spark)
        got = dedup.containment_pairs(docs, threshold=0.6).collect()
        pairs = {(r.doc_a, r.doc_b): r.containment for r in got}
        assert (0, 1) in pairs
        assert pairs[(0, 1)] == 1.0
        assert not any(2 in p for p in pairs)

    def test_jaccard_lsh_misses_the_same_pair(self, spark):
        """The reason this operator exists: the Jaccard-banded LSH path
        cannot see the same contained pair."""
        from pos_pipeline_core_etl_spark.operators import dedup

        docs = self._docs(spark)
        lsh = dedup.minhash_lsh_candidates(docs).collect()
        assert (0, 1) not in {(r.doc_a, r.doc_b) for r in lsh}

    def test_bucket_cap_and_overflow_audit(self, spark):
        from pos_pipeline_core_etl_spark.operators import dedup

        # 12 docs sharing one identical text -> every sampled shingle's
        # posting list has 12 docs; cap 5 must drop all pairs and the
        # audit must surface those lists
        docs = spark.createDataFrame(
            [(i, "alpha beta gamma delta epsilon zeta") for i in range(12)],
            "doc_id long, text string",
        )
        capped = dedup.containment_pairs(docs, max_bucket_size=5).collect()
        assert capped == []
        audit = dedup.containment_overflow(docs, max_bucket_size=5).collect()
        assert audit and all(r.n_docs == 12 for r in audit)
        uncapped = dedup.containment_pairs(docs, max_bucket_size=None).collect()
        assert len(uncapped) == 12 * 11 // 2


class TestIncrementalMartRefresh:
    """build_payments_daily_incremental ≡ build_payments_daily while
    only touching batch-affected groups (operators/payments.py r6)."""

    def _fact(self, spark):
        import datetime as dt

        rows = []
        for day in range(4):
            for suc in ("A", "B"):
                for t in range(6):
                    rows.append(
                        (
                            suc,
                            dt.date(2024, 1, 1 + day),
                            day * 100 + t,
                            "efectivo" if t % 2 else "tarjeta",
                            10.0 + t,
                            1.0,
                            t % 3 == 0,
                        )
                    )
        return spark.createDataFrame(
            rows,
            "sucursal string, operating_date date, order_index long, "
            "payment_method string, ticket_total double, ticket_tip double, "
            "elimination_present boolean",
        )

    def test_equals_full_recompute(self, spark):
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators.payments import (
            build_payments_daily,
            build_payments_daily_incremental,
        )

        fact = self._fact(spark)
        hol = spark.createDataFrame([], "fecha date")
        # batch: one branch-day's late rows (order_index 100..105 = day 2 / A+B)
        pred = (F.col("order_index") >= 100) & (F.col("order_index") < 106)
        full = build_payments_daily(fact, hol)
        inc = build_payments_daily_incremental(fact, hol, pred)
        cols = full.columns
        assert sorted(inc.select(cols).collect()) == sorted(full.collect())

    def test_null_predicate_rows_stay_in_base_leg(self, spark):
        """A row whose batch predicate evaluates NULL must be treated as
        base (not silently dropped from both legs)."""
        import datetime as dt

        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators.payments import (
            build_payments_daily,
            build_payments_daily_incremental,
        )

        rows = self._fact(spark).collect()
        fact = spark.createDataFrame(rows, self._fact(spark).schema).withColumn(
            "late_flag",
            F.when(F.col("order_index") == 0, F.lit(None).cast("boolean"))
            .otherwise(F.col("order_index") >= 100),
        )
        hol = spark.createDataFrame([(dt.date(2024, 1, 1),)], "fecha date")
        full = build_payments_daily(fact, hol)
        inc = build_payments_daily_incremental(fact, hol, F.col("late_flag"))
        assert sorted(inc.select(full.columns).collect()) == sorted(full.collect())

    def test_affected_legs_broadcast(self, spark):
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators.payments import (
            build_payments_daily_incremental,
        )

        fact = self._fact(spark)
        hol = spark.createDataFrame([], "fecha date")
        inc = build_payments_daily_incremental(
            fact, hol, F.col("order_index") % 13 == 0
        )
        plan = inc._jdf.queryExecution().executedPlan().toString()
        # the key-pruning joins must be broadcast (anti + semi), never a
        # corpus-sized shuffle join
        assert "SortMergeJoin" not in plan
        assert plan.count("BroadcastHashJoin") >= 2 or (
            "BroadcastHashJoin" in plan and "BroadcastNestedLoopJoin" in plan
        )


class TestFuzzyKeyPairs:
    """Deletion-neighborhood fuzzy matching (operators/fuzzy.py r6)."""

    def test_distance1_complete_and_verified(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = spark.createDataFrame(
            [
                (1, "smith"),
                (2, "smyth"),   # substitution, dist 1
                (3, "smiths"),  # insertion, dist 1 from smith
                (4, "msith"),   # D1 shares "mith"/"sith" with smith, so it
                                # IS a blocking candidate — the levenshtein
                                # verify (distance 3) removes it
                (5, "jones"),
            ],
            "id long, k string",
        )
        got = {(r.id_a, r.id_b): r.dist for r in
               fuzzy.fuzzy_key_pairs(df, "id", "k").collect()}
        assert got == {(1, 2): 1, (1, 3): 1}

    @pytest.mark.slow  # default-budget cut (VERDICT r12 #2); runs with --runslow
    def test_matches_bruteforce_levenshtein(self, spark):
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators import fuzzy

        words = ["abc", "abd", "acb", "bbc", "ab", "abcd", "xyz", "xzy",
                 "abce", "aabc", "cba", "bac"]
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "id long, k string"
        )
        got = {(r.id_a, r.id_b) for r in
               fuzzy.fuzzy_key_pairs(df, "id", "k").collect()}
        a, b = df.alias("a"), df.alias("b")
        brute = {
            (r[0], r[1])
            for r in a.join(b, F.col("a.id") < F.col("b.id"))
            .where(F.levenshtein("a.k", "b.k") <= 1)
            .select("a.id", "b.id")
            .collect()
        }
        assert got == brute  # candidate-complete AND false-positive-free

    def test_transposition_candidate_filtered(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = spark.createDataFrame(
            [(1, "ab"), (2, "ba")], "id long, k string"
        )
        # "ab" and "ba" share deletion variants {a, b} but sit at
        # distance 2: the blocking stage surfaces them, the verify
        # stage must drop them
        assert fuzzy.fuzzy_key_pairs(df, "id", "k").collect() == []

    def test_overflow_audit(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = spark.createDataFrame(
            [(i, f"k{i:03d}") for i in range(30)], "id long, k string"
        )
        # variant "k" + two digits deleted? no — shared variants like
        # 'k00'..'k29' stay small; force overflow with tiny cap
        audit = fuzzy.fuzzy_key_overflow(df, "id", "k", max_bucket_size=2)
        assert audit.count() > 0
        capped = fuzzy.fuzzy_key_pairs(df, "id", "k", max_bucket_size=2)
        uncapped = fuzzy.fuzzy_key_pairs(df, "id", "k", max_bucket_size=None)
        assert capped.count() <= uncapped.count()

    @pytest.mark.slow  # default-budget cut (VERDICT r12 #2); runs with --runslow
    def test_distance2_matches_bruteforce(self, spark):
        """d=2 blocking (depth-2 deletion neighborhoods) must equal the
        brute-force levenshtein <= 2 join: candidate-complete by the
        depth-2 FastSS identity, false-positive-free by the verify."""
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators import fuzzy

        words = ["abc", "abd", "acb", "bbc", "ab", "abcd", "xyz", "xzy",
                 "abce", "aabc", "cba", "bac", "a", "", "abcde", "vwxyz"]
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "id long, k string"
        )
        got = {(r.id_a, r.id_b): r.dist for r in
               fuzzy.fuzzy_key_pairs(
                   df, "id", "k", max_distance=2, max_bucket_size=None
               ).collect()}
        a, b = df.alias("a"), df.alias("b")
        brute = {
            (r[0], r[1]): r[2]
            for r in a.join(b, F.col("a.id") < F.col("b.id"))
            .where(F.levenshtein("a.k", "b.k") <= 2)
            .select("a.id", "b.id", F.levenshtein("a.k", "b.k").cast("long"))
            .collect()
        }
        assert got == brute

    def test_distance2_superset_of_distance1(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = spark.createDataFrame(
            [(1, "smith"), (2, "smyth"), (3, "smythe"), (4, "jones")],
            "id long, k string",
        )
        d1 = {(r.id_a, r.id_b) for r in
              fuzzy.fuzzy_key_pairs(df, "id", "k").collect()}
        d2 = {(r.id_a, r.id_b) for r in
              fuzzy.fuzzy_key_pairs(df, "id", "k", max_distance=2).collect()}
        assert d1 <= d2
        assert (1, 3) in d2 - d1  # smith→smythe: substitution + insertion

    def test_distance3_rejected(self, spark):
        import pytest

        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = spark.createDataFrame([(1, "a")], "id long, k string")
        with pytest.raises(ValueError):
            fuzzy.fuzzy_key_pairs(df, "id", "k", max_distance=3)


class TestSortedNeighborhood:
    """Sorted-neighborhood blocking (operators/fuzzy.py r7): bounded
    window·n candidates, distributed global rank with no
    single-partition sort."""

    def test_global_rank_is_total_order_position(self, spark):
        from pos_pipeline_core_etl_spark.operators.fuzzy import global_rank

        rows = [(i, f"k{(i * 37) % 100:03d}") for i in range(100)]
        df = spark.createDataFrame(rows, "id long, k string")
        got = {
            r.id: r.rank
            for r in global_rank(df, ["k", "id"]).collect()
        }
        expected = {
            rid: pos + 1
            for pos, (rid, _k) in enumerate(
                sorted(rows, key=lambda t: (t[1], t[0]))
            )
        }
        assert got == expected

    def test_global_rank_plan_has_no_single_partition_sort(self, spark):
        from pos_pipeline_core_etl_spark.operators.fuzzy import global_rank

        df = spark.range(1000).select(
            F.col("id"), F.expr("CAST(id % 97 AS STRING)").alias("k")
        )
        plan = (
            global_rank(df, ["k", "id"])
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # the ROW-LEVEL rank window partitions by _pid (range
        # partitions) — never a global Window over one partition. The
        # offsets leg does run a SinglePartition running sum, but over
        # n_partitions COUNT rows (tiny by contract), not data rows.
        # (the range exchange itself sits behind the localCheckpoint
        # boundary — the checkpointed subplan scans back as ExistingRDD)
        assert "row_number() windowspecdefinition(_pid" in plan

    def test_matches_window_bounded_bruteforce(self, spark):
        from pos_pipeline_core_etl_spark.operators.fuzzy import (
            SN_WINDOW,
            sorted_neighborhood_pairs,
        )

        words = ["smith", "smyth", "smythe", "jones", "jonas", "stone",
                 "stane", "abc", "abd", "zzz"]
        rows = [(i, w) for i, w in enumerate(words)]
        df = spark.createDataFrame(rows, "id long, k string")
        got = {(r.id_a, r.id_b, r.dist) for r in
               sorted_neighborhood_pairs(df, "id", "k").collect()}

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        srt = sorted(rows, key=lambda t: (t[1], t[0]))
        want = set()
        for i, (ida, ka) in enumerate(srt):
            for j in range(i + 1, min(i + 1 + SN_WINDOW, len(srt))):
                idb, kb = srt[j]
                d = lev(ka, kb)
                if d <= 2:
                    want.add((ida, idb, d))
        assert got == want

    def test_multi_pass_recovers_leading_char_typo(self, spark):
        """A first-character typo sorts far away forward but adjacent on
        the reversed key: the two-pass union must find it, the single
        pass must not (the measured rationale for multi-pass SN)."""
        from pos_pipeline_core_etl_spark.operators.fuzzy import (
            sorted_neighborhood_pairs,
            sorted_neighborhood_pairs_multi,
        )

        # 'amith'/'smith' differ in char 1; the filler rows push them
        # >SN_WINDOW apart in forward sort order
        words = (["amith"] + [f"b{i:02d}" for i in range(10)] + ["smith"])
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(words)], "id long, k string"
        )
        one = {(r.id_a, r.id_b) for r in
               sorted_neighborhood_pairs(df, "id", "k").collect()}
        two = {(r.id_a, r.id_b) for r in
               sorted_neighborhood_pairs_multi(df, "id", "k").collect()}
        assert (0, 11) not in one
        assert (0, 11) in two
        assert one <= two

    def test_output_bounded_by_window_times_n(self, spark):
        """The whole point vs deletion-variant blocking: candidates are
        window·n even on the degenerate-dense sequential-id names."""
        from pos_pipeline_core_etl_spark.operators.fuzzy import (
            SN_WINDOW,
            sorted_neighborhood_pairs,
        )

        n = 2000
        df = spark.range(n).select(
            F.col("id").alias("id"),
            F.format_string("Customer#%09d", F.col("id")).alias("k"),
        )
        pairs = sorted_neighborhood_pairs(df, "id", "k").count()
        assert pairs <= SN_WINDOW * n


class TestZorderWriter:
    """Z-order layout writer (operators/layout.py r7): the written tree
    must be exactly the deterministic layout the oracle predicts — 32
    z-file directories, ONE data file each — and its read-back pruning
    stats must show the z-order property (both dimensions bounded)."""

    def test_writes_one_file_per_zfile(self, spark, tmp_path):
        import os

        from pos_pipeline_core_etl_spark.operators import layout

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        path = str(tmp_path / "zorder")
        layout.write_zorder_layout(ev, path)
        # one directory per zfile value PRESENT in the data (the small
        # fixture's date span populates a subset of the 32 Morton cells)
        expected = layout.zorder_buckets(ev).select("zfile").distinct().count()
        dirs = sorted(d for d in os.listdir(path) if d.startswith("zfile="))
        assert len(dirs) == expected
        assert len(dirs) <= layout.ZORDER_N_FILES
        for d in dirs:
            files = [
                f
                for f in os.listdir(os.path.join(path, d))
                if f.endswith(".parquet")
            ]
            assert len(files) == 1, f"{d} has {len(files)} data files"

    def test_incremental_rewrites_only_touched_files(self, spark, tmp_path):
        """apply_zorder_increment must (a) leave every untouched z-file
        directory's bytes alone, (b) produce stats identical to a full
        rewrite over base ∪ slice."""
        import os

        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators import layout

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        maxd = ev.agg(F.max(F.expr("CAST(ts AS DATE)")).alias("md"))
        base = ev.join(F.broadcast(maxd), F.expr("CAST(ts AS DATE) < md")).drop("md")
        late = ev.join(F.broadcast(maxd), F.expr("CAST(ts AS DATE) = md")).drop("md")

        inc_path = str(tmp_path / "inc")
        layout.write_zorder_layout(base, inc_path)
        touched = {
            r.zfile for r in layout.zorder_buckets(late).select("zfile").distinct().collect()
        }
        before = {}
        for d in os.listdir(inc_path):
            if d.startswith("zfile="):
                f = next(
                    p for p in os.listdir(os.path.join(inc_path, d))
                    if p.endswith(".parquet")
                )
                st = os.stat(os.path.join(inc_path, d, f))
                before[d] = (f, st.st_mtime_ns, st.st_size)
        layout.apply_zorder_increment(spark, late, inc_path)
        for d, (f, mtime, size) in before.items():
            zid = int(d.split("=")[1])
            full = os.path.join(inc_path, d, f)
            if zid not in touched:
                st = os.stat(full)
                assert (st.st_mtime_ns, st.st_size) == (mtime, size), (
                    f"untouched {d} was rewritten"
                )

        full_path = str(tmp_path / "full")
        layout.write_zorder_layout(ev, full_path)
        inc_stats = {
            tuple(r) for r in layout.read_zorder_file_stats(spark, inc_path).collect()
        }
        full_stats = {
            tuple(r) for r in layout.read_zorder_file_stats(spark, full_path).collect()
        }
        assert inc_stats == full_stats

    def test_pruning_bounds_both_dimensions(self, spark, tmp_path):
        from pos_pipeline_core_etl_spark.operators import layout

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        path = str(tmp_path / "zorder")
        layout.write_zorder_layout(ev, path)
        stats = layout.read_zorder_file_stats(spark, path)
        report = {r.dim: r for r in layout.zorder_pruning_report(stats).collect()}
        assert set(report) == {"user_bucket", "day_bucket"}
        # the z-order property: NEITHER dimension degenerates to a full
        # scan (a single-dimension layout reads all 32 files for the
        # other dimension's point queries)
        for dim in report:
            assert report[dim].avg_files_read < 32
        # and the written stats cover every row exactly once
        n_rows = sum(r.n_rows for r in stats.collect())
        assert n_rows == ev.count()


class TestDecontaminateFuzzy:
    """MinHash-banded near-match decontamination (operators/text.py r7):
    planted paraphrases of benchmark docs must be flagged AND attributed
    to the right benchmark doc; unrelated docs must not appear."""

    def _docs(self, spark):
        bench0 = ("the capital of france is paris and the capital of spain "
                  "is madrid while the capital of italy is rome")
        bench1 = ("a binary search tree supports insertion deletion and "
                  "lookup in logarithmic time when the tree stays balanced")
        # light paraphrase of bench1: two token substitutions
        para = ("a binary search tree supports insertion removal and "
                "lookup in logarithmic time when the tree remains balanced")
        other = ("completely unrelated text about cooking pasta with "
                 "tomato sauce basil garlic and olive oil for dinner")
        return spark.createDataFrame(
            [(0, bench0), (1, bench1), (100, para), (101, other)],
            "doc_id long, text string",
        )

    def test_planted_paraphrase_flagged_and_attributed(self, spark):
        from pos_pipeline_core_etl_spark.operators import text as text_ops

        got = {r.doc_id: r for r in
               text_ops.decontaminate_fuzzy(self._docs(spark)).collect()}
        assert 100 in got, "paraphrase of a benchmark doc must surface"
        assert got[100].flagged
        assert got[100].best_bench_id == 1
        assert got[100].best_jaccard > 0.3
        assert 101 not in got or not got[101].flagged

    def test_exact_variant_misses_doc_attribution(self, spark):
        """The fuzzy variant's report names WHICH benchmark doc leaked;
        the exact variant only scores gram overlap against the pooled
        benchmark set — the attribution column is the new capability."""
        from pos_pipeline_core_etl_spark.operators import text as text_ops

        exact = text_ops.decontaminate(self._docs(spark))
        assert "best_bench_id" not in exact.columns
        fuzzy = text_ops.decontaminate_fuzzy(self._docs(spark))
        assert "best_bench_id" in fuzzy.columns

    def test_one_sided_join_shape(self, spark):
        """The candidate stage must broadcast the benchmark side — never
        a corpus × corpus join (sort-merge on the band key would mean
        both sides shuffled at corpus scale)."""
        from pos_pipeline_core_etl_spark.operators import text as text_ops

        plan = (
            text_ops.decontaminate_fuzzy(self._docs(spark))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan


class TestSparseCosine:
    """IDF-weighted shingle cosine (operators/dedup.py r6): rare
    shingles dominate; shared boilerplate scores near zero."""

    def test_near_dup_scores_high_boilerplate_low(self, spark):
        from pos_pipeline_core_etl_spark.operators import dedup

        boiler = "terms and conditions apply to this offer"
        rows = [
            (0, f"{boiler} unique alpha beta gamma delta text one"),
            (1, f"{boiler} unique alpha beta gamma delta text two"),   # near-dup of 0
            (2, f"{boiler} totally different rare payload words here"),
            (3, "no shared content at all zeta eta theta iota kappa"),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r.doc_a, r.doc_b): r.cosine
            for r in dedup.sparse_cosine_pairs(docs, threshold=0.0).collect()
        }
        assert got[(0, 1)] > 0.6                 # near-dups
        assert got.get((0, 2), 0.0) < 0.2        # boilerplate-only overlap
        assert got.get((1, 2), 0.0) < 0.2
        assert (0, 3) not in got and (2, 3) not in got  # no shared grams

    def test_stop_gram_cap_prunes_postings(self, spark):
        from pos_pipeline_core_etl_spark.operators import dedup

        # a gram shared by every doc is a stop-gram under a small cap:
        # pairs that ONLY share it disappear
        rows = [(i, f"common shared prefix here doc{i} tail{i} x{i}") for i in range(8)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        capped = dedup.sparse_cosine_pairs(docs, threshold=0.0, max_df=4).collect()
        assert capped == []


class TestClusterScopedD2:
    """Cluster-scoped depth-2 fuzzy matching (operators/fuzzy.py r8 —
    d1 components first, d2 over canonical representatives only)."""

    def test_links_between_entities_via_representatives(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        # entity A = {10:"cold bolt", 11:"old bolt"} (d1-connected),
        # entity B = {20:"red bolt"}, entity C = {30:"new bolt"},
        # lone far key 40.
        df = spark.createDataFrame(
            [
                (10, "cold bolt"),
                (11, "old bolt"),
                (20, "red bolt"),
                (30, "new bolt"),
                (40, "zzzzzzzzz"),
            ],
            "id long, k string",
        )
        got = {
            (r.entity_a, r.entity_b): (r.key_a, r.key_b, r.dist)
            for r in fuzzy.cluster_scoped_pairs_d2(df, "id", "k").collect()
        }
        # A's representative is min-id 10 = "cold bolt" (distance 3 from
        # red/new) -> the A-B and A-C links are LOST by construction;
        # B-C ("red bolt" / "new bolt") survives at distance 2.
        assert got == {(20, 30): ("red bolt", "new bolt", 2)}

    def test_dense_region_collapses_before_d2(self, spark):
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators import fuzzy

        # a dense d1-connected chain (every neighbor at distance 1) plus
        # one far-off key: the chain must collapse to ONE representative,
        # so the d2 stage sees 2 keys, not 6 — and emits no links
        # (representatives are far apart).
        chain = [(i, "aaaaaa"[: 6 - i] + "b" * i) for i in range(6)]
        df = spark.createDataFrame(
            chain + [(99, "qqqqqq")], "id long, k string"
        )
        out = fuzzy.cluster_scoped_pairs_d2(df, "id", "k")
        assert out.collect() == []
        # and the d1 stage really did collapse the chain: recompute the
        # component count the operator derives internally
        from pos_pipeline_core_etl_spark.operators.dedup import (
            connected_components,
        )

        pairs = fuzzy.fuzzy_key_pairs(df, "id", "k").select("id_a", "id_b")
        comps = connected_components(pairs, src="id_a", dst="id_b")
        n_entities = (
            df.join(comps.withColumnRenamed("id", "cid"),
                    F.col("id") == F.col("cid"), "left")
            .select(F.coalesce("component_id", "id").alias("e"))
            .distinct()
            .count()
        )
        assert n_entities == 2

    def test_recovers_capped_d1_loss_at_entity_grain(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        # with a d1 bucket cap of 1 nothing merges (every shared variant
        # bucket is "overflowed"), so every key is its own entity and the
        # d2 stage degenerates to plain depth-2 matching over all keys —
        # including the distance-1 pair the capped d1 pass dropped.
        df = spark.createDataFrame(
            [(1, "smith"), (2, "smyth")], "id long, k string"
        )
        got = {
            (r.entity_a, r.entity_b): r.dist
            for r in fuzzy.cluster_scoped_pairs_d2(
                df, "id", "k", d1_bucket=1
            ).collect()
        }
        assert got == {(1, 2): 1}


class TestPhoneticBlocking:
    """Soundex-class phonetic blocking (operators/fuzzy.py r8)."""

    def test_key_renders_identically_in_both_engines(self, spark):
        import duckdb

        from pos_pipeline_core_etl_spark.operators import fuzzy

        words = [
            "smith", "smyth", "robert", "rupert", "ashcraft", "tymczak",
            "pfister", "cold bolt", "old bolt", "Customer#000000042", "",
            "honeyman", "jackson", "washington",
        ]
        df = spark.createDataFrame([(w,) for w in words], "w string")
        got_spark = [
            (r.w, r.pk, r.pkl)
            for r in df.select(
                "w",
                fuzzy.phonetic_key_col("w", word="whole").alias("pk"),
                fuzzy.phonetic_key_col("w", word="last").alias("pkl"),
            ).collect()
        ]
        con = duckdb.connect()
        whole = fuzzy.phonetic_key_sql("w", word="whole", dialect="duckdb")
        last = fuzzy.phonetic_key_sql("w", word="last", dialect="duckdb")
        got_duck = con.execute(
            f"SELECT w, {whole} AS pk, {last} AS pkl "
            "FROM (SELECT unnest($1::VARCHAR[]) AS w)",
            [words],
        ).fetchall()
        assert got_spark == got_duck

    def test_sound_alike_pairs_found_and_verified(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = spark.createDataFrame(
            [
                (1, "smith"),
                (2, "smyth"),    # sound-alike, dist 1 -> kept
                (3, "schmidt"),  # S253: different block -> never a candidate
                (4, "mith"),     # M3 block differs -> phonetic misses it
            ],
            "id long, k string",
        )
        got = {
            (r.id_a, r.id_b): r.dist
            for r in fuzzy.phonetic_pairs(
                df, "id", "k", word="whole"
            ).collect()
        }
        assert got == {(1, 2): 1}

    def test_block_candidate_beyond_distance_filtered(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        # robert/rupert share R163 but sit at distance 2: under a
        # max_distance=1 verify the blocking stage surfaces them and the
        # verify stage must drop them
        df = spark.createDataFrame(
            [(1, "robert"), (2, "rupert")], "id long, k string"
        )
        assert (
            fuzzy.phonetic_pairs(
                df, "id", "k", word="whole", max_distance=1
            ).collect()
            == []
        )
        got = {
            (r.id_a, r.id_b): r.dist
            for r in fuzzy.phonetic_pairs(df, "id", "k", word="whole").collect()
        }
        assert got == {(1, 2): 2}

    def test_identifier_keys_degenerate_into_overflow(self, spark):
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = spark.range(80).select(
            F.col("id"),
            F.format_string("Account#%04d", F.col("id")).alias("k"),
        )
        pairs = fuzzy.phonetic_pairs(
            df, "id", "k", word="whole", max_bucket_size=50
        )
        over = fuzzy.phonetic_overflow(
            df, "id", "k", word="whole", max_bucket_size=50
        ).collect()
        assert pairs.collect() == []          # the mega-block is capped out
        assert len(over) == 1 and over[0].n_keys == 80


class TestDeconDecisionFrame:
    """Decontamination-composed build decisions (plans/llm_ops.py r8):
    the prep chain runs over the corpus partition only (the benchmark is
    a HOLDOUT, never part of the dedup universe), then doc-level fuzzy
    drops, then span redaction. The sf fixtures never exercise
    'redacted' (every span-overlapping doc is a full near-copy, so the
    doc-level flag wins) — this constructed fixture pins that path."""

    def _docs(self, spark):
        def en_text(prefix, n=90):
            toks = []
            stops = ["the", "and", "of", "is", "a", "to", "in"]
            for i in range(n):
                toks.append(f"{prefix}{i}")
                if i % 3 == 0:
                    toks.append(stops[i % len(stops)])
            return " ".join(toks)

        # 'tok3' hashes to 0 mod SUBSTR_STRIDE, so it content-anchors the
        # same window on both sides regardless of alignment
        btoks = [f"bench{i}" for i in range(30)]
        btoks[5] = "tok3"
        bench = " ".join(btoks)
        quote = " ".join(btoks[2:28])  # 26-token partial quote
        partial = en_text("alpha") + " " + quote + " " + en_text("beta")
        clean = en_text("gamma")
        near_copy = bench + " " + en_text("delta", 8)
        return spark.createDataFrame(
            [(0, bench), (100, partial), (101, clean), (102, near_copy)],
            "doc_id long, text string",
        )

    def test_all_stage_labels_and_redaction(self, spark):
        from pos_pipeline_core_etl_spark.plans import llm_ops

        got = {
            r.doc_id: r
            for r in llm_ops._decon_decision_frame_for(
                self._docs(spark)
            ).collect()
        }
        assert got[0].decision == "benchmark_holdout"
        assert got[101].decision == "kept"
        assert got[102].decision == "dropped_contaminated"
        # the partial quoter survives doc-level (low Jaccard) but its
        # quote is surgically removed
        assert got[100].decision == "redacted"
        cleaned = got[100].cleaned_text.split()
        # the anchored window [anchor, anchor+16) is removed: tok3 and
        # the 15 tokens after it.  Unanchored quote EDGES survive — the
        # documented trade of stride anchoring (window_grams) vs the
        # winnowing guarantee: cheap windows, not complete coverage.
        removed = {"tok3"} | {f"bench{i}" for i in range(6, 21)}
        assert not removed & set(cleaned)
        assert "bench2" in cleaned  # pre-anchor quote edge survives
        # and the doc's own content survives the redaction
        assert "alpha0" in cleaned and "beta0" in cleaned

    def test_shipping_set_is_benchmark_window_free(self, spark):
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators import dedup
        from pos_pipeline_core_etl_spark.plans import llm_ops

        docs = self._docs(spark)
        frame = llm_ops._decon_decision_frame_for(docs)
        shipped = frame.where(
            F.col("decision").isin("kept", "redacted")
        ).select("doc_id", F.col("cleaned_text").alias("text"))
        # re-run the span detector treating shipped docs as the corpus:
        # nothing may be removed from an already-clean artifact
        again = dedup.remove_benchmark_spans(
            docs.where(F.col("doc_id") < 50).unionByName(shipped)
        )
        assert again.agg(F.sum("n_removed_tokens")).collect()[0][0] == 0


class TestUnionBlocking:
    """Cheap-family blocking union (operators/fuzzy.py r8)."""

    def test_union_covers_each_familys_blind_spot(self, spark):
        from pyspark.sql import functions as F

        from pos_pipeline_core_etl_spark.operators import fuzzy

        # smith/smyth: phonetic block (S53) catches it; deletion d1
        # catches it too.  robert/rupert (dist 2): ONLY phonetic.
        # "zebra park"/"cobra park" (dist 2): phonetic-last ("park")
        # catches it; d1 cannot (dist 2), forward SN sorts c…/z… apart.
        df = spark.createDataFrame(
            [
                (1, "smith"),
                (2, "smyth"),
                (3, "robert"),
                (4, "rupert"),
                (5, "zebra park"),
                (6, "cobra park"),
            ],
            "id long, k string",
        )
        got = {
            (r.id_a, r.id_b): r.dist
            for r in fuzzy.union_blocking_pairs(
                df, "id", "k", word="whole"
            ).collect()
        }
        # word="whole" phonetic keys: smith/smyth collide, robert/rupert
        # collide; zebra/cobra differ (Z vs C) -> that pair must come
        # from another family if at all
        assert got[(1, 2)] == 1
        assert got[(3, 4)] == 2
        got_last = {
            (r.id_a, r.id_b): r.dist
            for r in fuzzy.union_blocking_pairs(
                df, "id", "k", word="last"
            ).collect()
        }
        assert got_last[(5, 6)] == 2  # noun block catches the adjective swap

    def test_union_is_superset_of_each_leg(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(
                ["red bolt", "new bolt", "old bolt", "cold bolt",
                 "red gear", "new gear", "old ring", "cold ring"]
            )],
            "id long, k string",
        )
        union = {(r.id_a, r.id_b) for r in
                 fuzzy.union_blocking_pairs(df, "id", "k").collect()}
        for leg in (
            fuzzy.fuzzy_key_pairs(df, "id", "k", max_distance=1),
            fuzzy.phonetic_pairs(df, "id", "k", word="last"),
            fuzzy.sorted_neighborhood_pairs_multi(df, "id", "k"),
        ):
            got = {(r.id_a, r.id_b) for r in leg.collect()}
            assert got <= union


class TestGraphOps:
    """Co-occurrence graph analytics (operators/graph.py r8)."""

    def test_copurchase_edges_from_orders(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        li = spark.createDataFrame(
            [(1, 10), (1, 20), (1, 30), (2, 10), (2, 20), (3, 40), (3, 40)],
            "l_orderkey long, l_partkey long",
        )
        got = {(r.src, r.dst) for r in graph.copurchase_edges(li).collect()}
        # order 1 yields the 10-20-30 triangle edges; order 2 repeats
        # (10, 20) which must dedupe; order 3 has one distinct item ->
        # no edge
        assert got == {(10, 20), (10, 30), (20, 30)}

    def test_triangle_counts_k4(self, spark):
        from itertools import combinations

        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame(
            list(combinations([1, 2, 3, 4], 2)), "src long, dst long"
        )
        got = {r.node: r.n_triangles for r in
               graph.triangle_counts(edges).collect()}
        # K4 has C(3,2)=3 triangles through every node
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_pagerank_cycle_is_uniform(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        # undirected 4-cycle: symmetric structure -> equal ranks, and
        # total mass stays within the documented floor-division dust
        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (1, 4)], "src long, dst long"
        )
        got = {r.node: r.rank_q for r in
               graph.pagerank_fixedpoint(edges).collect()}
        assert len(set(got.values())) == 1
        total = sum(got.values())
        assert graph.PAGERANK_SCALE * 0.999 <= total <= graph.PAGERANK_SCALE

    def test_pagerank_star_center_dominates(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 9)], "src long, dst long"
        )
        got = {r.node: r.rank_q for r in
               graph.pagerank_fixedpoint(edges).collect()}
        leaves = {v for k, v in got.items() if k != 0}
        assert len(leaves) == 1  # symmetric leaves tie exactly
        assert got[0] > 5 * leaves.pop()

    def test_pagerank_empty_edges(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        empty = spark.createDataFrame([], "src long, dst long")
        assert graph.pagerank_fixedpoint(empty).collect() == []

    def test_oriented_triangles_equal_plain(self, spark):
        """triangle_counts_oriented must be value-identical to the
        plain ordered join — on a clique, on a hub graph whose center
        sits MID-WAY in the id order (the shape where the plain a<b<c
        join's intermediate goes quadratic), and on a deterministic
        pseudo-random graph."""
        from itertools import combinations

        from pos_pipeline_core_etl_spark.operators import graph

        def both(edge_list):
            edges = spark.createDataFrame(edge_list, "src long, dst long")
            plain = {r.node: r.n_triangles for r in
                     graph.triangle_counts(edges).collect()}
            orient = {r.node: r.n_triangles for r in
                      graph.triangle_counts_oriented(edges).collect()}
            return plain, orient

        plain, orient = both(list(combinations(range(1, 6), 2)))  # K5
        assert plain == orient and plain[1] == 6  # C(4,2) per corner

        # hub 50 with spokes below AND above its id, plus one triangle
        hub = [(i, 50) for i in range(30)] + [(50, 100 + i) for i in range(30)]
        hub += [(0, 100), (1, 2), (1, 3), (2, 3)]
        plain, orient = both(hub)
        assert plain == orient
        # 0-50-100 closes through the hub, and each edge of the 1-2-3
        # triangle pairs with the hub's spokes: {1,2,50} {1,3,50}
        # {2,3,50}
        assert orient.get(50) == 4

        # deterministic scatter: arithmetic progression edges
        scatter = sorted(
            {(min(i, (i * 7 + 3) % 40), max(i, (i * 7 + 3) % 40))
             for i in range(40)} - {(i, i) for i in range(40)}
        )
        scatter += [(i, i + 1) for i in range(0, 39, 3)]
        plain, orient = both(sorted(set(scatter)))
        assert plain == orient

    def test_pagerank_converged_stops_before_cap(self, spark):
        """The convergence-driven stop (VERDICT r8 #3): on the star
        graph the damped walk contracts geometrically, so a tolerance
        above the integer-dust floor stops strictly before the cap,
        and the returned ranks are exactly pagerank_fixedpoint run for
        that many iterations (the composition is pure)."""
        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 9)], "src long, dst long"
        )
        got = graph.pagerank_converged(edges, tol_q=50_000_000, max_iters=30)
        rows = got.collect()
        stop = rows[0]["stop_iter"]
        assert all(r["stop_iter"] == stop for r in rows)
        assert 1 < stop < 30
        fixed = {r.node: r.rank_q for r in
                 graph.pagerank_fixedpoint(edges, iters=int(stop)).collect()}
        assert {r.node: r.rank_q for r in rows} == fixed
        # the stop obeys the trajectory: delta at stop <= tol < before
        traj = {r.iter: r.l1_delta_q for r in
                graph.pagerank_l1_trajectory(edges, iters=int(stop)).collect()}
        assert traj[stop] <= 50_000_000
        assert all(traj[i] > 50_000_000 for i in range(1, stop))

    @pytest.mark.parametrize(
        "entry",
        [
            "pagerank_fixedpoint",
            "pagerank_converged",
            "pagerank_personalized",
            "pagerank_l1_trajectory",
        ],
    )
    def test_pagerank_setup_checkpoints_released(self, spark, monkeypatch, entry):
        """Every PageRank entry point frees the eager setup checkpoints
        its returned frame no longer reads: the symmetric edge list
        (once the degree-annotated edges and the node set are built
        from it) and, for the personalized walk, the plain node set
        (once the seed-flagged node set is built from it).  Releases
        are recorded at the call, not inferred from the persisted-RDD
        count, which the context cleaner also lowers at random."""
        from py4j.protocol import Py4JError

        from pos_pipeline_core_etl_spark.operators import common, graph

        edges = spark.createDataFrame(
            [(i, i + 1) for i in range(12)], "src long, dst long"
        )
        frame_cls = type(edges)  # the concrete DataFrame class

        def rdd_id(df):
            return df._jdf.queryExecution().analyzed().rdd().id()

        made = {}  # column tuple -> RDD id of each eager checkpoint
        real_checkpoint = frame_cls.localCheckpoint

        def checkpoint(df, eager=True, **kw):
            out = real_checkpoint(df, eager, **kw)
            if eager:
                made[tuple(out.columns)] = rdd_id(out)
            return out

        freed = set()
        real_release = common.release_checkpoint

        def release(df):
            try:
                freed.add(rdd_id(df))
            except Py4JError:  # not a checkpoint: nothing to free
                pass
            real_release(df)

        monkeypatch.setattr(frame_cls, "localCheckpoint", checkpoint)
        monkeypatch.setattr(graph, "release_checkpoint", release)
        monkeypatch.setattr(common, "release_checkpoint", release)
        if entry == "pagerank_personalized":
            seeds = spark.createDataFrame([(0,), (5,)], "node long")
            out = graph.pagerank_personalized(edges, seeds, iters=3)
        elif entry == "pagerank_converged":
            out = graph.pagerank_converged(edges, tol_q=-1, max_iters=3)
        else:
            out = getattr(graph, entry)(edges, iters=3)
        assert out.collect()
        assert made[("src", "dst")] in freed
        if entry == "pagerank_personalized":
            assert made[("node",)] in freed

    def test_pagerank_converged_cap_and_empty(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 9)], "src long, dst long"
        )
        # unreachable tolerance -> runs to the cap, stop_iter == cap
        capped = graph.pagerank_converged(edges, tol_q=-1, max_iters=3)
        assert capped.collect()[0]["stop_iter"] == 3
        empty = spark.createDataFrame([], "src long, dst long")
        assert graph.pagerank_converged(empty).collect() == []

    def test_pagerank_trajectory_contracts(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        # two K4 components: damped walk from uniform init contracts
        # geometrically toward the (symmetric) stationary point
        from itertools import combinations

        edges = spark.createDataFrame(
            list(combinations([1, 2, 3, 4], 2))
            + list(combinations([11, 12, 13, 14], 2)),
            "src long, dst long",
        )
        traj = {r.iter: r.l1_delta_q for r in
                graph.pagerank_l1_trajectory(edges, iters=5).collect()}
        # symmetric graph from uniform init: ALREADY at the fixed point
        # (up to integer dust) — every delta is at the quantization floor
        assert all(v <= 8 * 100 for v in traj.values())
        # a star is NOT uniform: mass sloshes center<->leaves with
        # per-step contraction = damping (0.85), so the geometric
        # shrink needs enough iterations to dominate the slosh
        star = spark.createDataFrame(
            [(0, i) for i in range(1, 9)], "src long, dst long"
        )
        straj = [r.l1_delta_q for r in
                 graph.pagerank_l1_trajectory(star, iters=24)
                 .orderBy("iter").collect()]
        assert straj[0] > 10 * max(straj[-1], 1)
        # and the contraction is roughly geometric: every 8 steps the
        # delta drops by clearly more than 0.85^8 would allow doubt of
        assert straj[8] < straj[0] and straj[16] < straj[8]


class TestDeVacuizedGreens:
    """Constructed non-empty fixtures for the three standing 0-row
    greens (VERDICT r8 #2): oracle agreement at zero rows proves both
    engines agree there is nothing to find, not that they would agree
    when there is. Each test forces specific non-empty output through
    the SAME code path the registry query runs (the model is
    test_banded_overflow_report_catches_collapse above)."""

    def test_check_duplicates_flags_duplicated_day(self, spark):
        from pos_pipeline_core_etl_spark.operators.qa import check_duplicates

        rows = [
            ("A", dt.date(2024, 1, 1)),
            ("A", dt.date(2024, 1, 1)),  # the injected duplicated day
            ("A", dt.date(2024, 1, 2)),
            ("B", dt.date(2024, 1, 1)),
        ]
        mart = spark.createDataFrame(rows, "sucursal string, fecha date")
        got = check_duplicates(mart).collect()
        assert len(got) == 1
        assert (got[0]["sucursal"], got[0]["fecha"], got[0]["n"]) == (
            "A",
            dt.date(2024, 1, 1),
            2,
        )
        # and a duplicate-free mart stays empty through the same path
        clean = spark.createDataFrame(rows[1:], "sucursal string, fecha date")
        assert check_duplicates(clean).count() == 0

    @pytest.mark.slow  # default-budget cut (VERDICT r12 #2); runs with --runslow
    def test_ngram_jaccard_pairs_emits_near_dup(self, spark):
        from pos_pipeline_core_etl_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [
                (1, base),
                (2, base + " today"),  # near-dup: one appended token
                (3, "completely unrelated text about spark physical plans"),
            ],
            "doc_id long, text string",
        )
        got = ngram_jaccard_pairs(docs, threshold=0.5).collect()
        assert [(r.doc_a, r.doc_b) for r in got] == [(1, 2)]
        assert got[0]["jaccard"] >= 0.5
        # the max_doc_id bound both caps the O(n^2) leg and excludes:
        # bounding below the near-dup's id must empty the result
        assert ngram_jaccard_pairs(docs, threshold=0.5, max_doc_id=2).count() == 0

    def test_branch_substring_filter_non_vacuous_on_real_nation(self, spark):
        """The registry query itself (not just the operator shape):
        after the round-9 re-pattern it must match real rows at every
        SF — nation is always the same 25 synthetic names."""
        from pos_pipeline_core_etl_spark.plans.analytics import (
            branch_substring_filter,
        )

        got = branch_substring_filter(spark, "/root/testdata/sf0.001")
        names = sorted(r.n_name for r in got.collect())
        assert names == [f"NATION_1{d}" for d in "01345678 9".replace(" ", "")]
        # exclusion set is load-bearing: NATION_1 and NATION_12 match
        # the substring but are filtered out
        assert "NATION_1" not in names and "NATION_12" not in names


class TestResolveEntities:
    """End-to-end ER composition (operators/fuzzy.py::resolve_entities,
    VERDICT r8 #5). On the part-name fixture the cheap-family union is
    total, so the d2-residual merge leg never fires there (verified:
    n_subentities == 1 everywhere) — these constructed fixtures force
    each stage to be load-bearing, per the vacuous-green discipline."""

    # two keys at levenshtein 2 (first AND last char substituted) that
    # every cheap family misses: no shared d1 deletion variant
    # (substitution-2), different phonetic initial, and >window filler
    # keys between them in BOTH sort orders (forward: a < bf* < c;
    # reversed: a… < m…  < z…)
    _A = "abbbba"
    _B = "cbbbbz"
    _FILL = [f"bf0{i}m" for i in range(1, 8)]

    def _df(self, spark):
        rows = [(1, self._A), (2, self._B)] + [
            (10 + i, k) for i, k in enumerate(self._FILL)
        ]
        return spark.createDataFrame(rows, "kid long, key string")

    @pytest.mark.slow  # default-budget cut (VERDICT r12 #2); runs with --runslow
    def test_residual_d2_leg_is_load_bearing(self, spark):
        from pos_pipeline_core_etl_spark.operators import fuzzy

        df = self._df(spark)
        # the cheap union alone does NOT pair the two targets...
        upairs = {
            (r.id_a, r.id_b)
            for r in fuzzy.union_blocking_pairs(df, "kid", "key").collect()
        }
        assert (1, 2) not in upairs
        # ...so a pipeline without stage 3/4 leaves them separate, but
        # the full composition merges them through the rep-level d2 pass
        fin = {r.id: r for r in fuzzy.resolve_entities(df, "kid", "key").collect()}
        assert fin[1]["entity_id"] != fin[2]["entity_id"]
        assert fin[1]["final_entity"] == fin[2]["final_entity"] == 1
        # fillers (lev-1 of each other -> one cheap-family cluster)
        # never leak into the targets' merged entity
        assert all(
            fin[i]["final_entity"] == 10 for i in fin if i not in (1, 2)
        )

    def test_final_label_is_min_original_id(self, spark):
        """Composition stability: stage-2 labels are min member ids and
        stage-4 labels are min entity ids, so final_entity is the min
        ORIGINAL id of the whole merged cluster — the golden-record
        contract the plans layer joins on."""
        from pos_pipeline_core_etl_spark.operators import fuzzy

        # add a d1 twin of target B so B's first-round entity is
        # non-trivial (B merges with B' cheaply, then the d2 residual
        # folds that entity into A's)
        rows = [(5, self._A), (2, self._B), (3, self._B + "x")] + [
            (10 + i, k) for i, k in enumerate(self._FILL)
        ]
        df = spark.createDataFrame(rows, "kid long, key string")
        fin = {r.id: r for r in fuzzy.resolve_entities(df, "kid", "key").collect()}
        assert fin[2]["entity_id"] == fin[3]["entity_id"] == 2
        assert fin[5]["final_entity"] == fin[2]["final_entity"] == 2
        assert fin[3]["final_entity"] == 2


class TestKcoreAndNeighborJaccard:
    """Round-9 graph extensions (operators/graph.py)."""

    def test_kcore_peels_pendant_chain(self, spark):
        """K4 with a pendant path hanging off one corner: the chain
        peels one node per round (degree-1 tail cascades inward), so
        the peel loop is multi-round and load-bearing; the clique
        survives as the 2-core with intact degrees."""
        from itertools import combinations

        from pos_pipeline_core_etl_spark.operators import graph

        edges = list(combinations([1, 2, 3, 4], 2))  # K4
        edges += [(4, 5), (5, 6), (6, 7)]  # pendant chain
        df = spark.createDataFrame(edges, "src long, dst long")
        rows = graph.kcore_nodes(df, k=2).collect()
        got = {r.node: r.core_deg for r in rows}
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}
        # chain peels outward-in: 7 then 6 then 5, +1 stability round
        assert all(r.stop_round == 4 for r in rows)

    def test_kcore_k_above_degeneracy_empties(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        df = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 1)], "src long, dst long"
        )  # triangle: 2-core = itself, 3-core = empty
        assert {r.node for r in graph.kcore_nodes(df, k=2).collect()} == {1, 2, 3}
        assert graph.kcore_nodes(df, k=3).collect() == []

    def test_kcore_cap_equality_contract(self, spark):
        """A chain longer than the cap: both the capped loop and an
        unrolled-to-cap oracle would return the round-cap set, with
        stop_round == cap (the cap-equality argument in the
        docstring)."""
        from pos_pipeline_core_etl_spark.operators import graph

        chain = [(i, i + 1) for i in range(1, 9)]
        df = spark.createDataFrame(chain, "src long, dst long")
        rows = graph.kcore_nodes(df, k=2, max_rounds=2).collect()
        assert rows and all(r.stop_round == 2 for r in rows)
        # a chain has no 2-core: the full peel (cap high enough) is empty
        assert graph.kcore_nodes(df, k=2, max_rounds=12).collect() == []

    def test_neighbor_jaccard_values(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        # nodes 1 and 2 share neighbors {3, 4}; 1 also has 5, so
        # J(1,2) = 2 / (3 + 2 - 2) = 2/3; J(3,4) = 2/(2+2-2) = 1.0
        edges = [(1, 3), (1, 4), (1, 5), (2, 3), (2, 4)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            (r.node_a, r.node_b): (r.n_shared, r.jaccard)
            for r in graph.neighbor_jaccard_pairs(df, threshold=0.5).collect()
        }
        assert got[(1, 2)] == (2, round(2 / 3, 6))
        assert got[(3, 4)] == (2, 1.0)
        # threshold excludes: J(4,5)=J(3,5)=1/(2+1-1)=0.5 included at
        # 0.5 but dropped at 0.7
        assert (3, 5) in got and (4, 5) in got
        high = {
            (r.node_a, r.node_b)
            for r in graph.neighbor_jaccard_pairs(df, threshold=0.7).collect()
        }
        assert high == {(3, 4)}  # J(1,2)=2/3 < 0.7 drops out too


class TestPersonalizedPagerank:
    def test_seed_proximity_and_zero_off_component(self, spark):
        """Two disjoint triangles, seeds only in the first: all rank
        mass stays in the seeded component (the other component gets
        exact zeros — no teleport there, integer arithmetic, no dust),
        and within the seeded triangle the seed outranks non-seeds."""
        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame(
            [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)],
            "src long, dst long",
        )
        seeds = spark.createDataFrame([(1,)], "node long")
        got = {r.node: r.rank_q for r in
               graph.pagerank_personalized(edges, seeds).collect()}
        assert got[10] == got[11] == got[12] == 0
        assert got[1] > got[2] == got[3] > 0
        # total mass conserved up to floor-division dust
        assert sum(got.values()) <= graph.PAGERANK_SCALE

    def test_uniform_seed_set_recovers_global_shape(self, spark):
        """Seeding EVERY node makes the restart term uniform — the
        personalized loop must then agree exactly with the global
        fixed-point loop (same integer update rule, same init)."""
        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 6)], "src long, dst long"
        )
        seeds = spark.createDataFrame([(i,) for i in range(6)], "node long")
        personalized = {r.node: r.rank_q for r in
                        graph.pagerank_personalized(edges, seeds).collect()}
        fixed = {r.node: r.rank_q for r in
                 graph.pagerank_fixedpoint(edges).collect()}
        assert personalized == fixed

    def test_empty_or_foreign_seeds(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        none = spark.createDataFrame([], "node long")
        assert {r.rank_q for r in
                graph.pagerank_personalized(edges, none).collect()} == {0}
        # seeds disjoint from the node set are ignored entirely
        foreign = spark.createDataFrame([(99,)], "node long")
        assert {r.rank_q for r in
                graph.pagerank_personalized(edges, foreign).collect()} == {0}


class TestWedgeCap:
    """Round-10 wedge-generation cap (VERDICT r9 #4): the stop-key
    discipline for the neighbor-jaccard wedge join — hubs over the cap
    are excluded from wedge GENERATION and the overflow audit reports
    exactly what was skipped."""

    def test_capped_equals_exact_when_cap_clears_max_degree(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame(
            [(1, 3), (1, 4), (1, 5), (2, 3), (2, 4)], "src long, dst long"
        )
        # max degree is 3 (node 1) -> cap 3 must be a no-op
        exact = sorted(
            map(tuple, graph.neighbor_jaccard_pairs(edges, threshold=0.5).collect())
        )
        capped = sorted(
            map(
                tuple,
                graph.neighbor_jaccard_pairs(
                    edges, threshold=0.5, wedge_cap=3
                ).collect(),
            )
        )
        assert exact == capped and len(exact) > 0
        assert graph.wedge_overflow(edges, wedge_cap=3).collect() == []

    def test_cap_binds_on_hub_and_overflow_reports_it(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        # hub 0 touches 1..8 (deg 8); low-degree neighbor 9 also links
        # 1 and 2. Cap 4 excludes the hub from wedge generation:
        # - uncapped: every pair in 1..8 shares hub 0 -> 28 candidates
        # - capped: only (1, 2) survives, via node 9
        edges = spark.createDataFrame(
            [(0, i) for i in range(1, 9)] + [(9, 1), (9, 2)],
            "src long, dst long",
        )
        exact = {
            (r.node_a, r.node_b): r.n_shared
            for r in graph.neighbor_jaccard_pairs(edges, threshold=0.0).collect()
        }
        capped = {
            (r.node_a, r.node_b): r.n_shared
            for r in graph.neighbor_jaccard_pairs(
                edges, threshold=0.0, wedge_cap=4
            ).collect()
        }
        # survivors: (1,2) via low-degree node 9, and (0,9) whose
        # shared neighbors {1, 2} are themselves below the cap — every
        # hub-mediated pair among 3..8 is gone
        assert len(exact) >= 28 and set(capped) == {(1, 2), (0, 9)}
        # capped n_shared is a LOWER BOUND: (1,2) share {0, 9} exactly,
        # but only the wedge through 9 is generated under the cap
        assert exact[(1, 2)] == 2 and capped[(1, 2)] == 1
        assert exact[(0, 9)] == 2 and capped[(0, 9)] == 2
        over = {r.node: (r.deg, r.wedges_skipped)
                for r in graph.wedge_overflow(edges, wedge_cap=4).collect()}
        assert over == {0: (8, 28)}

    def test_wedge_cap_rejects_nonpositive(self, spark):
        from pos_pipeline_core_etl_spark.operators import graph

        edges = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError):
            graph.neighbor_jaccard_pairs(edges, wedge_cap=0)
        with pytest.raises(ValueError):
            graph.wedge_overflow(edges, wedge_cap=0)


class TestSemDedup:
    def test_identical_vector_dropped_keep_min_id(self, spark):
        from pos_pipeline_core_etl_spark.operators import similarity

        # k=2, seeds = vecs 0 and 1 (orthogonal); vec 2 is a byte-exact
        # twin of vec 0 and vec 3 a twin of vec 1 -> each lands in its
        # seed's cluster and is marked dup of the lower id. vec 4 is
        # near-orthogonal noise in cluster 0's halfspace, below 0.3.
        rows = [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
            (4, [0.5, 0.0, 0.86, 0.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        got = {
            r.dup_id: (r.keep_id, r.best_sim, r.n_matches)
            for r in similarity.semdedup(emb, threshold=0.9, k=2, iters=2).collect()
        }
        assert got == {2: (0, 1.0, 1), 3: (1, 1.0, 1)}

    def test_clusters_bound_the_pairwise_leg(self, spark):
        from pos_pipeline_core_etl_spark.operators import similarity

        # vecs 0/2 would match vecs 1/3 at threshold 0.0 (cosine 0 >=
        # 0), but they sit in different clusters, so NO cross-cluster
        # pair may appear — the blocking is the cluster, by design.
        rows = [
            (0, [1.0, 0.0]),
            (1, [0.0, 1.0]),
            (2, [1.0, 0.1]),
            (3, [0.1, 1.0]),
        ]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = similarity.semdedup(emb, threshold=0.0, k=2, iters=2).collect()
        assert {(r.keep_id, r.dup_id) for r in pairs} == {(0, 2), (1, 3)}


class TestPerplexityBuckets:
    def test_equal_tertiles_ordered_by_surprise(self, spark):
        from pos_pipeline_core_etl_spark.operators import text

        # six docs, two per eventual bucket; repeated corpus bigrams
        # score LOW surprise, unique word salad HIGH
        docs = spark.createDataFrame(
            [
                (0, "the cat sat on the mat"),
                (1, "the cat sat on the mat"),
                (2, "the dog sat on a log today"),
                (3, "a dog ran past the log today"),
                (4, "quantum flux harmonics destabilize chromatic resonance"),
                (5, "violet asteroids serenade unduly pragmatic walruses"),
            ],
            "doc_id long, text string",
        )
        rows = text.perplexity_buckets(docs).collect()
        by_bucket = {}
        for r in rows:
            by_bucket.setdefault(r.ppl_bucket, []).append(r.mean_neg_logprob)
        assert {b: len(v) for b, v in by_bucket.items()} == {
            "head": 2, "middle": 2, "tail": 2,
        }
        assert max(by_bucket["head"]) <= min(by_bucket["middle"])
        assert max(by_bucket["middle"]) <= min(by_bucket["tail"])
        # the exact-duplicate fluent docs are the head
        head_ids = {r.doc_id for r in rows if r.ppl_bucket == "head"}
        assert head_ids == {0, 1}


class TestSharedEdgeCache:
    def test_same_session_returns_same_materialized_frame(self, spark):
        from pos_pipeline_core_etl_spark.plans import analytics

        a = analytics._graph_s2_edges_full(spark, "/root/testdata/sf0.001")
        b = analytics._graph_s2_edges_full(spark, "/root/testdata/sf0.001")
        assert a is b  # one build per (session, sf_dir, kind)
        # and the cache serves exactly what the pure builder computes
        pure = analytics._graph_s2_edges_build(spark, "/root/testdata/sf0.001")
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, pure.collect()))
