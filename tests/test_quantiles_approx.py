"""Accuracy pin for the approx-percentile twin (events_quantiles_approx):
the Greenwald-Khanna guarantee is on RANK, not value — the returned
element's rank must lie within ±n/accuracy of the target rank (value
distance is meaningless in a sparse tail where adjacent order statistics
can be far apart). Same exact-twin discipline as the HLL entry."""

from pyspark.sql import functions as F

from apache_cassandra_spark.gates.common import load_events
from apache_cassandra_spark.gates.events import q_events_quantiles_approx

SF = "/root/testdata/sf0.001"
ACCURACY = 10_000  # must match q_events_quantiles_approx


def test_approx_within_rank_error_of_exact(spark):
    vals = {}
    for r in (
        load_events(spark, SF)
        .groupBy("event_type")
        .agg(F.sort_array(F.collect_list("value")).alias("vs"))
        .collect()
    ):
        vals[r["event_type"]] = r["vs"]
    approx = {
        r["event_type"]: r for r in q_events_quantiles_approx(spark, SF).collect()
    }
    assert set(vals) == set(approx) and vals
    for et, vs in vals.items():
        n = len(vs)
        eps = n / ACCURACY  # rank error bound; < 1 at this sf
        for q, p in (("p50", 0.5), ("p90", 0.9), ("p99", 0.99)):
            got = approx[et][q]
            # rank window the returned element must fall in (1-indexed
            # target rank ceil(p*n), ± eps, plus the pick-an-element
            # slack of one position on each side)
            lo = max(0, int(p * n - eps) - 1)
            hi = min(n - 1, int(p * n + eps) + 1)
            # got is rounded to 4 digits: locate by value window instead
            # of exact membership
            assert vs[lo] - 1e-3 <= got <= vs[hi] + 1e-3, (
                et,
                q,
                got,
                vs[lo],
                vs[hi],
            )
