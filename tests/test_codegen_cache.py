"""Spark's generated-code cache holds the engine's working set, so a plan
that runs again reuses its compiled classes instead of compiling them anew
(session.CODEGEN_CACHE_ENTRIES)."""

from __future__ import annotations

from allora_indexer_spark.registry import all_queries
from allora_indexer_spark.session import CODEGEN_CACHE_ENTRIES, codegen_counts

# In a fresh session their first run compiles about 160 classes at sf0.001,
# more than Spark's default cache of 100 holds; with that default every
# later run recompiles about 150 of them.
REPEATED = (
    "q99zr_winnowing_fingerprints",
    "q99zq_global_shuffle_batches",
    "q41_minhash_lsh_dedup",
    "q02_revenue_by_nation",
    "q98_sessionization",
    "q03_top_orders_by_segment",
    "q97_duplicated_span_stats",
    "q09_topk_orders_per_customer",
)


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_second_run_reuses_generated_classes(spark, sf_dir):
    registry = all_queries()

    def compiled_by_one_run() -> int:
        before = codegen_counts(spark)[0]
        for name in REPEATED:
            registry[name].fn(spark, sf_dir).collect()
        return codegen_counts(spark)[0] - before

    compiled_by_one_run()
    assert compiled_by_one_run() <= 10
