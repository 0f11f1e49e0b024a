#!/usr/bin/env python
"""Dump physical plans of registry queries (plan shape is SF-independent,
so the default tiny SF keeps this fast).

    python tools/dump_plans.py
        regenerate PLANS.md: the executed plans of the bench headline
        queries.
    python tools/dump_plans.py --tag before --out plans/r14 q1,q2,...
        write <out>/<query>_<tag>.txt, the ``explain("formatted")`` plan
        of each named query.
    python tools/dump_plans.py --ref HEAD --tag before --out DIR q1,...
        the same, built from the package at a git ref: the ref is
        exported with ``git archive`` into a temporary directory and the
        dump runs against that copy, so the working tree is never
        touched.

Expression ids, RDD ids, plan ids and file paths are masked, so two
dumps of the same plan shape are byte-identical and ``diff -r`` shows
only real plan changes.
"""
import argparse
import io
import os
import re
import subprocess
import sys
import tarfile
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SF = "/root/testdata/sf0.001"
HEADLINE = (
    "payments_daily_mart", "agg_pricing_summary", "join_broadcast_dims",
    "scan_filter_project", "dedup_keep_first", "sales_by_ticket_mart",
    "window_rolling_mean", "dedup_minhash_lsh", "sim_cosine_topk",
    "join_validity_window_bucketed", "text_tfidf_topk",
    "join_asof_purchase_view", "events_funnel", "events_retention",
    "dedup_minhash_verified", "join_asof_next_purchase",
    "events_mad_anomalies", "text_chunk_windows", "stratified_sample",
    # round 5
    "dedup_simhash_banded", "docs_quality_pct_approx",
    "emb_pq_codes", "sim_pq_adc_topk", "sim_ivfpq_topk",
    "dedup_winnow_pairs", "corpus_snapshot_diff",
    # round 6
    "dedup_simhash_staged", "sim_ivfpq_kmeans_topk",
    "dedup_incremental_diff", "multimodal_dedup_decisions",
    "corpus_build_manifest",
    # round 6 second pass
    "docs_lr_train", "dedup_containment_staged",
    "payments_daily_mart_incremental", "fuzzy_customer_pairs",
    # round 7
    "fuzzy_customer_pairs_d2", "fuzzy_customer_golden",
    "text_decontaminate_fuzzy", "sim_ivfpq_recall_sweep",
    "events_zorder_pruning",
    # round 7 second pass
    "dedup_minhash_recall", "corpus_compaction_plan",
    "fuzzy_customer_sorted_pairs", "skew_profile_events",
    # round 8
    "fuzzy_part_pairs_d2_scoped", "fuzzy_part_phonetic_pairs",
    "fuzzy_part_pairs_union", "fuzzy_family_recall_compare",
    "corpus_decon_decisions", "corpus_build_manifest_decon",
    "graph_part_triangles", "graph_part_pagerank",
    "graph_part_clustering", "events_transition_matrix",
    # round 9
    "graph_part_pagerank_tol", "fuzzy_part_entities_final",
    "graph_part_kcore", "graph_part_neighbor_jaccard",
    # round 10
    "docs_semdedup", "graph_part_neighbor_jaccard_capped",
    "sketch_kmv_distinct", "sketch_kmv_merge", "sketch_cms_topk",
    # round 11
    "sketch_kmv_jaccard", "sketch_kmv_setops", "sketch_hist_quantile",
    "docs_perplexity_buckets_approx", "sketch_hist_quantile_grouped",
    # round 12
    "sim_ivfpq_query_only", "sketch_hist_fixed_grouped",
    "sketch_priority_sample",
    # round 12 second half
    "sketch_bloom_merge", "sketch_bloom_semijoin",
    "events_rollup_cascade", "sketch_cms_grouped",
    "sketch_priority_grouped",
)


def _mask(plan: str) -> str:
    plan = re.sub(r"file:[^,\]\s]+", "<path>", plan)
    plan = re.sub(r"#\d+L?", "", plan)
    plan = re.sub(r"RDD\[\d+\]", "RDD", plan)
    return re.sub(r"plan_id=\d+", "plan_id", plan)


def write_plans_md(spark, queries, sf: str) -> None:
    out = [
        "# PLANS — executed physical plans of the headline queries",
        "",
        "Generated by `python tools/dump_plans.py` (re-run after plan-affecting",
        "changes). Evidence for the claims in PERFORMANCE.md: look for",
        "`PushedFilters`/`ReadSchema` (pushdown + pruning), `BroadcastHashJoin`",
        "(dims never shuffle the fact), single `Exchange hashpartitioning`",
        "per agg, absence of `Expand`/`CartesianProduct`/`BroadcastNestedLoopJoin`,",
        "and `WholeStageCodegen` spans (JVM-side execution).",
        "",
    ]
    for name in HEADLINE:
        df = queries[name](spark, sf)
        df.collect()  # count() would execute a derived plan; collect()
        # runs THIS df so the AQE final plan is what gets printed
        plan = _mask(df._jdf.queryExecution().executedPlan().toString())
        lines = [ln.rstrip() for ln in plan.splitlines() if ln.strip()]
        if len(lines) > 60:
            lines = lines[:60] + [f"... ({len(lines) - 60} more lines)"]
        out += [f"## {name}", "", "```", *lines, "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")


def write_formatted(spark, queries, sf: str, names, tag: str, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    for name in names:
        df = queries[name](spark, sf)
        txt = _mask(
            df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        )
        path = os.path.join(out, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({txt.count('Exchange')} Exchange refs)")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="?", help="comma-separated query names")
    ap.add_argument("--tag", default="after", help="file-name suffix")
    ap.add_argument("--out", default="plans", help="output directory")
    ap.add_argument("--ref", help="dump the package at this git ref")
    ap.add_argument("--sf", default=SF, help="scale-factor directory")
    ap.add_argument("--src", default=ROOT, help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.ref and not args.queries:
        ap.error("--ref needs query names")

    if args.ref:
        tar = subprocess.run(
            ["git", "-C", ROOT, "archive", "--format=tar", args.ref],
            check=True, capture_output=True,
        ).stdout
        with tempfile.TemporaryDirectory() as src:
            with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
                tf.extractall(src, filter="data")
            # cwd and PYTHONPATH too, so Python workers import the
            # ref's package, not the working tree's
            sys.exit(subprocess.run(
                [
                    sys.executable, os.path.abspath(__file__), args.queries,
                    "--tag", args.tag, "--out", os.path.abspath(args.out),
                    "--sf", os.path.abspath(args.sf), "--src", src,
                ],
                cwd=src, env=dict(os.environ, PYTHONPATH=src),
            ).returncode)

    sys.path.insert(0, args.src)
    from pos_pipeline_core_etl_spark import registry
    from pos_pipeline_core_etl_spark.session import get_spark

    spark = get_spark(app_name="dump_plans")
    spark.sparkContext.setLogLevel("ERROR")
    queries = registry.all_queries()
    if args.queries:
        write_formatted(
            spark, queries, args.sf, args.queries.split(","), args.tag, args.out
        )
    else:
        write_plans_md(spark, queries, args.sf)
    spark.stop()


if __name__ == "__main__":
    main()
