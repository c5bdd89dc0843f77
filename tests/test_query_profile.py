"""tools/query_profile.py reads perfbench's per-query counters over the
registry, in the test session (no separate JVM); the same counters pin
the session's codegen cache and the job count of a lazy query."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from query_profile import Counters, codegen_compiles, profile  # noqa: E402

from apache_cassandra_spark.queries import QUERIES  # noqa: E402

SF = "/root/testdata/sf0.001"
PARTITIONS = "spark.sql.shuffle.partitions"


def test_profile_counts_shuffle_and_python_stages_and_restores_confs(spark):
    before = spark.conf.get(PARTITIONS)
    multiget = list(profile(spark, ["cass_multiget_slice"], [SF], reps=2, confs={PARTITIONS: "2"}))
    assert spark.conf.get(PARTITIONS) == before
    assert [r["mode"] for r in multiget] == ["A", "B"]
    for r in multiget:
        assert r["shuffle_records"] > 0
        assert r["python_stage_ms"] == 0
        assert r["stable"]
        assert len(r["wall_s_reps"]) == 2
        assert r["codegen_compiles_reps"][1] == 0  # the warm-up compiled every class
    (audio,) = profile(spark, ["media_audio_features"], [SF], reps=2)
    assert audio["python_stage_ms"] > 0


def test_session_codegen_cache_keeps_a_pass_of_queries(spark):
    """A second pass over analytics_mix's three queries (62 generated
    classes at sf0.001), with 50 one-stage queries of distinct code after
    them (100 classes), compiles no class: the session's codegen cache
    holds them all. Spark's default cache (100 classes over four segments
    of 25) cannot: one of its segments must hold more than 25 of the
    pass's classes and recompiles them on every pass."""
    from pyspark.sql import functions as F

    for _ in range(2):
        compiled = {}
        for name in ["cass_lww_row_tombstones", "events_communities", "media_audio_features"]:
            spark.catalog.clearCache()
            before = codegen_compiles(spark)
            QUERIES[name](spark, SF).collect()
            compiled[name] = codegen_compiles(spark) - before
        before = codegen_compiles(spark)
        for i in range(2, 52):
            spark.range(2).select((F.col("id") * i).alias("x")).collect()
        compiled["one-stage queries"] = codegen_compiles(spark) - before
    assert not any(compiled.values()), compiled


def test_label_propagation_is_one_lazy_plan(spark):
    """``events_communities``'s builder runs no job, and it collects in 4:
    the clickstream window's exchange, ``und``'s one exchange, the round-2
    label broadcast and the result."""
    counters = Counters(spark)
    group = counters.begin("build")
    df = QUERIES["events_communities"](spark, SF)
    assert counters.end(group)["jobs"] == 0
    group = counters.begin("collect")
    df.collect()
    assert counters.end(group)["jobs"] <= 4


def test_interleave_corpus_builds_without_a_job(spark):
    """``interleave_corpus`` collects nothing while it builds: its
    positions come from a rank join inside the plan."""
    from apache_cassandra_spark.analytics.pipeline import interleave_corpus

    df = spark.createDataFrame([(i, f"s{i % 3}") for i in range(12)], "doc_id long, source string")
    counters = Counters(spark)
    group = counters.begin("build")
    out = interleave_corpus(df)
    assert counters.end(group)["jobs"] == 0
    assert out.count() == 12
