"""Sessions built by ``get_spark`` keep a catalog query mix's generated
code compiled: a repeated pass finds every whole-stage class in Spark's
compiled-class cache instead of compiling it again."""

from __future__ import annotations

from cassaforte_meter_transmission_gen_spark.plans import REGISTRY
from cassaforte_meter_transmission_gen_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    RUNTIME_CONFS,
    codegen_stats,
    default_driver_memory,
)

#: a catalog mix whose generated code is the same on every run: the six
#: catalog queries of the ``perfbench`` mix whose plans do not vary, plus
#: five more headline queries. In a fresh JVM one pass at sf0.001
#: compiles 152 classes, more than Spark's default cache holds (100), so
#: with that default every pass evicts and recompiles them. The mix's
#: other two queries, ``graph_hits_nation_trade`` and
#: ``agg_heavy_hitters_two_pass``, now and then compile a few new
#: classes on a repeat run, and are left out.
MIX = [
    "meter_rollup_minute",
    "meter_daily_report",
    "q01_pricing_summary",
    "ann_bruteforce_cosine_topk",
    "text_token_top50",
    "text_duplicated_span_fraction",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q18_large_volume_customers",
    "window_running_total",
    "events_sessionization_30m",
]


def test_session_carries_the_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)
    # a static conf: configure() could not set it on a live session
    assert "spark.sql.codegen.cache.maxEntries" not in RUNTIME_CONFS


def test_repeat_pass_of_the_query_mix_compiles_nothing(spark, sf_small):
    def one_pass() -> None:
        for name in MIX:
            REGISTRY[name].fn(spark, sf_small).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()

    one_pass()
    before, _ = codegen_stats(spark)
    one_pass()
    after, _ = codegen_stats(spark)
    assert after - before == 0, f"the repeat pass compiled {after - before} classes"


def test_default_driver_heap_follows_physical_memory(monkeypatch):
    """Without ``SPARK_DRIVER_MEM`` the driver heap is 60% of physical
    memory, capped at 16g: a 16 GB machine gets about 9.6g, not 16g."""
    import os

    def machine(gib):
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
        monkeypatch.setattr(os, "sysconf", pages.__getitem__)
        return default_driver_memory()

    assert machine(16) == "9830m"
    assert machine(4) == "2457m"
    assert machine(64) == "16384m"


def test_session_driver_heap_is_the_env_or_the_default(spark):
    import os

    want = os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory()
    assert spark.sparkContext.getConf().get("spark.driver.memory") == want
