"""The session factory's generated-code cache.

Spark keeps the classes Janino compiles for whole-stage codegen and
expressions in one JVM-wide LRU cache. At Spark's default of 100
entries, one pass of the benchmark's ``analytics_mix`` ops (about 186
classes) evicts its own classes before it repeats, so every warm pass
compiled them all again. ``get_session`` sizes the cache so that a warm
pass finds them.
"""

from __future__ import annotations

from s3_avro_repair_spark.plans.registry import load_all
from s3_avro_repair_spark.session import CODEGEN_CACHE_ENTRIES
from tools.codegen_census import ANALYTICS_MIX, Counters


def test_session_reports_the_codegen_cache_cap(spark):
    got = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(got) == CODEGEN_CACHE_ENTRIES


def test_warm_pass_of_analytics_mix_compiles_a_handful_of_classes(spark, sf_dir):
    """A thrashing cache recompiles about 186 classes on every pass. A
    few may still compile on a working one: AQE can pick a plan variant
    on a later run that an earlier one did not need. That was up to 10
    classes on the first warm pass and at most 2 on the second, so the
    second warm pass is the one counted."""
    ops = load_all()

    def one_pass():
        for name in ANALYTICS_MIX:
            ops[name].fn(spark, sf_dir).toPandas()

    counters = Counters(spark)
    one_pass()
    one_pass()
    before, _ = counters.read()
    one_pass()
    after, _ = counters.read()
    assert after - before <= 10
