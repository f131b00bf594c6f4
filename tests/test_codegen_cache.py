"""The codegen cache holds the query surface, so a warm pass reuses
every generated class. With Spark's default 100-entry cache the nine
benchmark reference queries need 118 classes and a warm pass compiled
all 118 again; ``session.get_session`` sizes the cache at 4096, and
keeps the stage id out of class names so a cache hit does not depend
on the order AQE finishes stages in."""

import time

from cr_data_pipeline_project_spark.plans import all_queries
from cr_data_pipeline_project_spark.session import CODEGEN_CACHE_ENTRIES

from helpers import compile_count

# The benchmark's ref_sql workload: one query per reference form.
REF_SQL = (
    "q03_player_win_rate", "q04_recent_rankings_top100", "q07_dedup_by_key",
    "q09_anti_join_new_keys", "q20_window_rank", "q24_merge_upsert",
    "q28_tumbling_window", "q113_shipping_priority", "q182_psi_drift",
)


def test_session_sizes_the_codegen_cache(spark):
    assert CODEGEN_CACHE_ENTRIES == 4096
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"


def test_warm_ref_sql_pass_compiles_nothing(spark, sf_dir):
    qs = all_queries()

    def one_pass():
        before = compile_count(spark)
        for name in REF_SQL:
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return compile_count(spark) - before

    one_pass()
    assert one_pass() == 0
    # the counter does see a class this JVM has not generated before
    # (an integer literal is inlined into the generated source)
    before = compile_count(spark)
    lit = time.time_ns() % 1_000_000_007
    spark.range(3).selectExpr(f"id * {lit} + 1").write.format("noop").mode(
        "overwrite"
    ).save()
    assert compile_count(spark) > before
