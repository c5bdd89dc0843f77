"""tools/query_profile.py reads perfbench's per-query counters over the
registry, in the test session (no separate JVM)."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from query_profile import profile  # noqa: E402

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
    (audio,) = profile(spark, ["media_audio_features"], [SF], reps=2)
    assert audio["python_stage_ms"] > 0
