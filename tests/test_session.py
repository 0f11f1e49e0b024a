"""Session defaults that change how plans run, not what they return."""

from __future__ import annotations

from pos_pipeline_core_etl_spark import registry
from pos_pipeline_core_etl_spark.session import codegen_compile_count

SF_DIR = "/root/testdata/sf0.001"


def test_codegen_cache_holds_classes_across_queries(spark):
    # dedup_decisions and fuzzy_customer_entities each generate about 100
    # classes, so at Spark's default 100-entry codegen cache the second
    # query evicts the first and its re-run compiles them all again.
    queries = registry.all_queries()
    queries["dedup_decisions"](spark, SF_DIR).collect()
    queries["fuzzy_customer_entities"](spark, SF_DIR).collect()
    before = codegen_compile_count(spark)
    queries["dedup_decisions"](spark, SF_DIR).collect()
    assert codegen_compile_count(spark) - before == 0
