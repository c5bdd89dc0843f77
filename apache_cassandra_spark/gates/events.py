"""Gates over the events table: sessionization, funnels,
retention, interval/range/as-of joins, sketches, quantiles and the
clickstream graph algorithms."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_cassandra_spark.gates.common import load_events, load_table


def q_events_props_json(spark, sf_dir):
    """Scalar JSON extraction over the events props column — part of the
    function library the reference lacked entirely (Spark-native)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.select(F.get_json_object("props", "$.k").cast("int").alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n"))
    )


def q_events_daily_active(spark, sf_dir):
    """Daily active users — exact distinct-count per day (Spark plans
    the two-phase Expand dedup itself). The scale path for wider windows
    is `approx_count_distinct` (HLL++): test_analytics pins its error
    within 5% of this exact result, but the GATE stays exact so any sf
    hash-matches."""
    ev = load_events(spark, sf_dir)
    day = F.date_format(F.timestamp_micros(F.expr("ts div 1000")), "yyyy-MM-dd")
    return (
        ev.groupBy(day.alias("day"))
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


def q_events_interval_join(spark, sf_dir):
    """Batch form of the stream-stream interval join (streaming/joins.py):
    click events joined to the same user's view events within a 1-hour
    horizon, aggregated to per-user-bucket match counts so the gate frame
    stays small. The streaming path is pinned equal by
    test_interval_join_stream_matches_batch."""
    from apache_cassandra_spark.streaming.joins import interval_join

    ev = load_events(spark, sf_dir).withColumn("ts_micros", F.expr("ts div 1000"))
    views = ev.where(F.col("event_type") == "view").select("user_id", "ts_micros", "event_id")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts_micros", "event_id")
    joined = interval_join(views, clicks, horizon="1 hour")
    return (
        joined.groupBy(F.pmod("user_id", F.lit(100)).cast("int").alias("user_bucket"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def q_events_salted_agg(spark, sf_dir):
    """Skew-salted two-phase aggregation over the zipf-headed event_type
    key: hash(event_id) spreads each type over 16 reduce partitions,
    then a group-count-sized merge shuffle. Result-identical to the
    plain GROUP BY (the oracle)."""
    from apache_cassandra_spark.functions.skew import salted_agg

    ev = load_events(spark, sf_dir)
    out = salted_agg(
        ev,
        keys=["event_type"],
        aggs={
            "n": ("count", "event_id"),
            "total": ("sum", F.col("value").cast("decimal(18,4)")),
            "max_value": ("max", F.col("value").cast("decimal(18,4)")),
        },
        n_salts=16,
        salt_on="event_id",
    )
    return out.select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.col("total").cast("double").alias("total"),
        F.col("max_value").cast("double").alias("max_value"),
    )


def q_events_salted_join(spark, sf_dir):
    """Replicate-salt join: events (big, skewed on user_id) against
    orders replicated 8x on a deterministic hash(event_id) salt, then a
    per-event_type match count. Result-identical to the plain equi-join
    (the oracle); the salt never escapes the operator."""
    from apache_cassandra_spark.functions.skew import salted_join

    ev = load_events(spark, sf_dir).select("event_id", "user_id", "event_type")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus")
    joined = salted_join(
        ev, orders, on=[("user_id", "o_custkey")], n_salts=8, salt_on="event_id"
    )
    return (
        joined.groupBy("event_type", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


def q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization: a user's events belong to one session
    until a silence longer than 30 minutes, the classic event-analytics
    operator the reference delegated to Hadoop. One window pass per user
    (lag → new-session flag → running sum); session ids are (user,
    ordinal), deterministic. Emits per-session aggregates."""
    ev = load_events(spark, sf_dir)
    from pyspark.sql import Window

    us = F.expr("ts div 1000")
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    gap_us = 30 * 60 * 1_000_000
    sessions = (
        ev.select("user_id", "event_id", us.alias("_us"))
        .withColumn("_prev", F.lag("_us").over(w))
        .withColumn(
            # strict >: native session_window merges an event landing
            # EXACTLY `gap` after the previous one (closed [t, t+gap]
            # interval — verified against Spark's operator in
            # test_session_boundary_exact_gap_merges), so the lag rule
            # and the oracle both split only on silence STRICTLY longer
            "_new",
            F.when(F.col("_prev").isNull() | (F.col("_us") - F.col("_prev") > gap_us), 1).otherwise(0),
        )
        .withColumn("session_no", F.sum("_new").over(w))
    )
    return sessions.groupBy("user_id", "session_no").agg(
        F.count("*").alias("n_events"),
        F.min("_us").alias("start_us"),
        F.max("_us").alias("end_us"),
        ((F.max("_us") - F.min("_us")) / F.lit(1_000_000)).alias("duration_s"),
    )


def q_events_rolling(spark, sf_dir):
    """Trailing-hour rolling aggregates per user (RANGE frame on event
    time): for every event, how many events and how much value the user
    produced in the preceding hour — the per-entity rate/feature operator
    of both abuse detection and feature pipelines. Decimal-exact sum so
    in-frame addition order can't break the hash."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", F.expr("ts div 1000").alias("us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "us",
        F.count("*").over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double").alias("value_last_hour"),
    )


def q_events_funnel(spark, sf_dir):
    """Ordered conversion funnel signup → click → purchase: a user
    advances only with an event STRICTLY after their previous stage time
    (min-timestamp chaining). Three user-keyed aggregates + joins —
    co-partitioned after the first shuffle, no windows."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", F.expr("ts div 1000").alias("us")
    )
    s1 = ev.where(F.col("event_type") == "signup").groupBy("user_id").agg(F.min("us").alias("t1"))
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"))
    )
    counts = [
        s1.agg(F.count("*").alias("n_users")).select(F.lit("x1_signup").alias("stage"), "n_users"),
        s2.agg(F.count("*").alias("n_users")).select(F.lit("x2_click").alias("stage"), "n_users"),
        s3.agg(F.count("*").alias("n_users")).select(F.lit("x3_purchase").alias("stage"), "n_users"),
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def q_events_retention(spark, sf_dir):
    """Weekly retention cohorts: cohort = the user's first-activity week
    (integer epoch-week), each cell = distinct users of that cohort
    active ``week_offset`` weeks later. Pure integer arithmetic so every
    cell replays in SQL."""
    ev = load_events(spark, sf_dir).select(
        "user_id", F.expr("(ts div 1000) div 604800000000").alias("week")
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    act = ev.distinct().join(first, "user_id")
    return act.groupBy(
        "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
    ).agg(F.count_distinct("user_id").alias("n_users"))


def q_events_asof(spark, sf_dir):
    """As-of join: each purchase matched to the user's newest click AT OR
    BEFORE it — the interleave/window implementation (one shuffle on the
    key, no inequality join, no BroadcastNestedLoop). Clicks are
    pre-reduced to one row per (user, time) so the oracle's winner rule
    is plain max()."""
    from apache_cassandra_spark.analytics.temporal import asof_join

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_id", "event_type", F.expr("ts div 1000").alias("us")
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "us"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", F.col("us").alias("click_us"))
        .agg(F.max("event_id").alias("click_id"))
    )
    out = asof_join(purchases, clicks, "user_id", "us", "click_us")
    return out.select(
        "user_id", "purchase_id", "us",
        F.col("click_us_right").alias("click_us"),
        F.col("click_id_right").alias("click_id"),
    )


#: 2024-01-01T00:00Z in epoch-us — the events fixture's first day
_JAN1_US = 1_704_067_200_000_000


def q_events_range_join(spark, sf_dir):
    """Range join via bucketized equality: 30 one-hour "promo windows"
    (noon each January day) joined to the events inside them — interval
    containment as a hash join on the hour slot (no theta-join
    fallback), exact bounds filtered after the match."""
    from apache_cassandra_spark.analytics.temporal import range_join

    hour_us = 3_600 * 1_000_000
    promos = (
        spark.range(0, 30)
        .select(
            F.col("id").alias("promo_id"),
            (F.lit(_JAN1_US) + (F.col("id") * 24 + 12) * hour_us).alias("start_us"),
            (F.lit(_JAN1_US) + (F.col("id") * 24 + 13) * hour_us).alias("end_us"),
        )
    )
    ev = load_events(spark, sf_dir).select("user_id", F.expr("ts div 1000").alias("us"))
    joined = range_join(ev, promos, "us", "start_us", "end_us", bucket=hour_us)
    return joined.groupBy("promo_id").agg(
        F.count("*").alias("n_events"), F.count_distinct("user_id").alias("n_users")
    )


def q_events_sliding(spark, sf_dir):
    """SLIDING event-time windows (2h length, 1h slide): every event lands
    in exactly two overlapping windows — the hopping-aggregate shape the
    tumbling `windowed_event_stats` operator doesn't cover. Runs identically under
    readStream (same `F.window` operator)."""
    ev = load_events(spark, sf_dir)
    t = F.timestamp_micros(F.expr("ts div 1000"))
    return (
        ev.groupBy(F.window(t, "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
        )
    )


def q_events_pivot(spark, sf_dir):
    """Pivot (crosstab): daily event counts with one column per event
    type — the reshape operator; oracle = conditional aggregation."""
    ev = load_events(spark, sf_dir)
    day = F.date_format(F.timestamp_micros(F.expr("ts div 1000")), "yyyy-MM-dd")
    types = ["click", "purchase", "signup", "view", "error"]
    return (
        ev.groupBy(day.alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "day",
            *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in types],
        )
    )


def _props_k_int():
    """``props.k`` as int for the flat integer-valued props grammar of the
    events corpus — the regexp twin of ``get_json_object(props, '$.k')``
    (see the equivalence contract in ``_clickstream_edges``)."""
    return F.nullif(F.regexp_extract("props", '"k"\\s*:\\s*(-?\\d+)', 1), F.lit("")).cast("int")


def _clickstream_edges(spark, sf_dir):
    """Per-user page-transition edges: nodes are props.k page ids, one
    edge src→dst per consecutive pair in a user's ts-ordered stream (the
    per-user lead window is bounded by that user's event count).

    The page id is extracted with an unanchored regexp (first
    ``"k": <int>`` anywhere in the string) instead of
    ``get_json_object``: the events corpus's ``props`` rows are flat
    single-level JSON objects whose ``k`` values are bare integers, and
    for that grammar the two extractions are row-identical while the
    regexp skips the per-row Jackson parse (measured 0.70s → 0.22s for
    the 100k-row sf0.1 parse stage, ×5 consumer queries — guide §1.2
    step 2 per-task work). Outside that grammar they diverge, and the
    divergence is accepted: a ``"k": N`` fragment in invalid JSON or in
    a nested object yields N here where ``get_json_object`` yields null.
    Both sides are pinned by
    tests/test_analytics.py::test_clickstream_props_regex_lock (full
    sf0.001 corpus exceptAll both directions vs the get_json_object
    twin, a corpus-grammar fuzz, and the out-of-grammar rows); revert
    to ``get_json_object`` if the events generator ever widens the
    props grammar (nested objects, quoted or non-integer k)."""
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    stream = ev.select(
        "user_id",
        "ts",
        "event_id",
        _props_k_int().alias("page"),
    ).where(F.col("page").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return stream.select(
        F.col("page").alias("src"), F.lead("page").over(w).alias("dst")
    ).where(F.col("dst").isNotNull())


def q_events_pagerank(spark, sf_dir):
    """PageRank over the per-user clickstream transition graph: 3
    integer-exact iterations (micro-unit ranks, 85/100 rational damping)
    so the fixpoint replays bit-for-bit in SQL."""
    from apache_cassandra_spark.analytics.graph import pagerank

    return pagerank(_clickstream_edges(spark, sf_dir), iters=3)


def q_events_hits(spark, sf_dir):
    """HITS hubs/authorities over the same clickstream graph: 2
    integer-exact iterations with max-normalization by integer division
    (top score pinned at MICRO) — the float-free replayable variant of
    the classic L2 normalization."""
    from apache_cassandra_spark.analytics.graph import hits

    return hits(_clickstream_edges(spark, sf_dir), iters=2)


def q_events_communities(spark, sf_dir):
    """Deterministic synchronous label propagation (min-label ties) over
    the undirected clickstream graph, 2 rounds — density communities,
    complementing components (connectivity) and PageRank/HITS
    (centrality); replayable because every step is a sum/max/min."""
    from apache_cassandra_spark.analytics.graph import label_propagation

    return label_propagation(_clickstream_edges(spark, sf_dir), iters=2)


def q_events_distinct_exact(spark, sf_dir):
    """Exact per-type cardinalities (distinct users, distinct active
    days, total events) — the oracle-anchored twin of the HLL entry.
    Spark plans COUNT(DISTINCT) as two-phase Expand + partial aggregate:
    dedup happens map-side, the exchange carries (group, distinct value)
    rows, not raw events."""
    from apache_cassandra_spark.analytics.sketches import distinct_counts

    ev = load_events(spark, sf_dir)
    day = F.date_format(F.timestamp_micros(F.expr("ts div 1000")), "yyyy-MM-dd")
    return distinct_counts(
        ev.withColumn("day", day), ["event_type"], ["user_id", "day"]
    )


def q_events_distinct_hll(spark, sf_dir):
    """HyperLogLog++ cardinalities — the 100 TB path: ~KB of mergeable
    sketch per (group, column) instead of shuffling the distinct set.
    Rows-only by design: the estimate is deterministic for a given input
    but engine-specific (Spark's HLL++ registers vs DuckDB's), so the
    unit tests pin it within rsd of the exact twin and the driver checks
    the row shape (one row per event_type either way)."""
    from apache_cassandra_spark.analytics.sketches import distinct_counts

    ev = load_events(spark, sf_dir)
    day = F.date_format(F.timestamp_micros(F.expr("ts div 1000")), "yyyy-MM-dd")
    return distinct_counts(
        ev.withColumn("day", day), ["event_type"], ["user_id", "day"], approx=True
    )


def q_events_anomaly(spark, sf_dir):
    """Integer-exact per-user z-score outliers (k=2σ, population
    variance, n≥5): the float-free algebraization
    ``(n·v − S)² > k²(n·Q − S²)`` in decimal(38,0)/HUGEINT — identical
    bits in any engine at any partitioning (anomaly.zscore_outliers)."""
    from apache_cassandra_spark.analytics.anomaly import zscore_outliers

    ev = load_events(spark, sf_dir)
    return zscore_outliers(ev, k=2, min_count=5)


def q_events_heavy_hitters(spark, sf_dir):
    """Exact per-event-type heavy hitters: top-5 users by event count
    (sketches.heavy_hitters). One map-side-combinable aggregate on
    (type, user) + a WindowGroupLimit top-k — the exchange carries
    distinct (type, user) rows, the window shuffle carries ~k rows per
    upstream task. The exact twin of a count-min pipeline."""
    from apache_cassandra_spark.analytics.sketches import heavy_hitters

    ev = load_events(spark, sf_dir)
    return heavy_hitters(ev, ["event_type"], "user_id", k=5)


def q_events_gap_fill(spark, sf_dir):
    """Dense per-user daily activity grid with zero-filled gaps
    (temporal.gap_fill): integer day index = epoch-seconds div 86400, so
    the grid arithmetic is bit-identical in any engine — including for
    negative (pre-1970) timestamps: Spark's `div` and DuckDB's BIGINT
    `//` BOTH truncate toward zero (on duckdb 1.0.0, `//` is integer
    truncating division ONLY for integer operands — on floats it
    degrades to plain division, -7.0 // 2 = -3.5; measured and pinned
    in tests/test_div_parity.py, closing ADVICE r7's divergence flag). Per-key output bounded by that key's
    own [min, max] day span — no global calendar, no driver literals."""
    from apache_cassandra_spark.analytics.temporal import gap_fill

    ev = load_events(spark, sf_dir)
    days = ev.select(
        "user_id", F.expr("ts div 1000000000 div 86400").alias("day_idx")
    )
    return gap_fill(days, "user_id", "day_idx")


def q_events_triangles(spark, sf_dir):
    """Per-page triangle counts over the clickstream transition graph
    (graph.triangle_counts): degree-ordered orientation bounds the wedge
    join by the arboricity (no "last reducer" hub blowup), each triangle
    generated exactly once at its rank-minimal apex. Pure joins +
    integer counts — the oracle replays the naive a<b<c listing and must
    agree exactly."""
    from apache_cassandra_spark.analytics.graph import triangle_counts

    edges = _clickstream_edges(spark, sf_dir)
    return triangle_counts(edges, "src", "dst").select(
        F.col("node").alias("page"), "n_triangles"
    )


def q_events_quantiles(spark, sf_dir):
    """Exact interpolated per-type value percentiles — the events twin of
    lineitem_quantiles (Spark `percentile` and SQL quantile_cont share
    the interpolation formula; 4-digit round pins the hash)."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
    )


def q_events_quantiles_approx(spark, sf_dir):
    """approx_percentile twin of events_quantiles — the 100 TB path:
    Greenwald-Khanna sketches are bounded-size and MERGEABLE, so the
    aggregation is one map-side-combinable pass instead of the exact
    percentile's per-group value sort. Rows-only by design (the sketch's
    picked element is engine-specific); the unit tests pin every
    percentile within the sketch's rank-error bound of the exact twin,
    and the accuracy knob (10⁴ ⇒ rank error ≤ n/10⁴) is explicit."""
    ev = load_events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 4).alias("p50"),
        F.round(F.expr("approx_percentile(value, 0.9, 10000)"), 4).alias("p90"),
        F.round(F.expr("approx_percentile(value, 0.99, 10000)"), 4).alias("p99"),
    )


def q_events_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient per page over the clickstream
    transition graph (graph.clustering_coefficient): cc = 2T/(d(d−1))
    in integer micro-units on top of the degree-ordered triangle
    counts — the clique-vs-hub local-density signal. All-integer
    output; the oracle replays the naive a<b<c triangle listing plus
    the same bigint division."""
    from apache_cassandra_spark.analytics.graph import clustering_coefficient

    edges = _clickstream_edges(spark, sf_dir)
    return clustering_coefficient(edges, "src", "dst").select(
        F.col("node").alias("page"), "deg", "n_triangles", "cc_micro"
    )


def q_events_ohlc(spark, sf_dir):
    """Per-user daily OHLC resample of the event value stream
    (temporal.resample_ohlc): open/close picked by the total order
    (ts, event_id) via min_by/max_by, high/low/count alongside — ONE
    map-side-combinable hash aggregate, no window, no float ever
    summed (engine-exact without quantization). The oracle replays the
    same picks with arg_min/arg_max over an equivalent zero-padded
    (ts, event_id) string key."""
    from apache_cassandra_spark.analytics.temporal import resample_ohlc

    ev = load_events(spark, sf_dir)
    out = resample_ohlc(
        ev,
        key_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        bucket_size=86_400_000_000_000,
        tie_col="event_id",
    )
    return out.select(
        "user_id", F.col("bucket").alias("day_idx"),
        "open", "high", "low", "close", "n_rows",
    )


def q_events_heavy_hitters_cm(spark, sf_dir):
    """Count-min-sketch heavy hitters (sketches.cm_sketch/cm_estimate):
    same top-5-users-per-type report as events_heavy_hitters, but read
    through a fixed 4×256 counter grid per type instead of the exact
    (group, item) frequency table — the shape for when distinct items
    explode past the exchange. Every counter is a deterministic md5
    function of the data, so unlike the HLL entry this sketch is
    hash-anchored: the oracle rebuilds the identical grid and minima.
    NULL user ids are excluded on both sides (concat_ws NULL-skip vs
    SQL NULL-propagation would hash them differently)."""
    from pyspark.sql import Window

    from apache_cassandra_spark.analytics.sketches import cm_estimate, cm_sketch

    ev = load_events(spark, sf_dir).where(F.col("user_id").isNotNull())
    sk = cm_sketch(ev, "user_id", ["event_type"], depth=4, width=256)
    items = ev.select("event_type", "user_id").distinct()
    est = cm_estimate(sk, items, "user_id", ["event_type"], depth=4, width=256)
    w = Window.partitionBy("event_type").orderBy(F.col("est").desc(), F.col("user_id"))
    return (
        est.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("event_type", "user_id", "est", F.col("rk").cast("int").alias("rk"))
    )


#: the DuckDB SQL each exactly-checked builder above must match
ORACLES: dict[str, str] = {}
ORACLES["events_props_json"] = """
        SELECT cast(json_extract_string(props, '$.k') as integer) AS k, count(*) AS n
        FROM events GROUP BY 1
    """
ORACLES["events_daily_active"] = """
        SELECT strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d') AS day,
               count(DISTINCT user_id) AS dau, count(*) AS n_events
        FROM events GROUP BY 1
    """
# batch twin of the stream-stream interval join
ORACLES["events_interval_join"] = """
        WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_type FROM events),
        v AS (SELECT user_id, us FROM e WHERE event_type = 'view'),
        c AS (SELECT user_id, us FROM e WHERE event_type = 'click')
        SELECT cast(v.user_id % 100 as int) AS user_bucket, count(*) AS n_pairs
        FROM v JOIN c ON v.user_id = c.user_id
                     AND c.us >= v.us AND c.us <= v.us + 3600000000
        GROUP BY 1
    """
# the salted two-phase plan must be result-identical to the plain agg
ORACLES["events_salted_agg"] = """
        SELECT event_type, count(*) AS n,
               cast(sum(cast(value as decimal(18,4))) as double) AS total,
               cast(max(cast(value as decimal(18,4))) as double) AS max_value
        FROM events GROUP BY event_type
    """
# the replicate-salt join must be result-identical to the plain join
ORACLES["events_salted_join"] = """
        SELECT event_type, o_orderstatus, count(*) AS n_matches
        FROM events JOIN orders ON user_id = o_custkey
        GROUP BY event_type, o_orderstatus
    """
# 30-minute-gap sessionization over epoch-us event times
ORACLES["events_sessionize"] = """
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
        flagged AS (SELECT user_id, event_id, us,
                           CASE WHEN lag(us) OVER w IS NULL
                                     OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS newf
                    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        sess AS (SELECT user_id, us,
                        cast(sum(newf) OVER (PARTITION BY user_id ORDER BY us, event_id) AS bigint) AS session_no
                 FROM flagged)
        SELECT user_id, session_no, count(*) AS n_events,
               min(us) AS start_us, max(us) AS end_us,
               (max(us) - min(us)) / 1000000 AS duration_s
        FROM sess GROUP BY 1, 2
    """
ORACLES["events_rolling"] = """
        SELECT user_id, event_id, us,
               count(*) OVER w AS n_last_hour,
               cast(sum(cast(value AS decimal(18,4))) OVER w AS double) AS value_last_hour
        FROM (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """
ORACLES["events_funnel"] = """
        WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
        s1 AS (SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'signup' GROUP BY 1),
        s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
               WHERE event_type = 'click' AND us > t1 GROUP BY 1),
        s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
               WHERE event_type = 'purchase' AND us > t2 GROUP BY 1)
        SELECT 'x1_signup' AS stage, count(*) AS n_users FROM s1
        UNION ALL SELECT 'x2_click', count(*) FROM s2
        UNION ALL SELECT 'x3_purchase', count(*) FROM s3
    """
ORACLES["events_retention"] = """
        WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week FROM events),
        first AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1)
        SELECT cohort_week, week - cohort_week AS week_offset,
               count(DISTINCT user_id) AS n_users
        FROM e JOIN first USING (user_id) GROUP BY 1, 2
    """
# as-of: newest click at-or-before each purchase per user
ORACLES["events_asof"] = """
        WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        p AS (SELECT user_id, event_id AS purchase_id, us FROM e WHERE event_type = 'purchase'),
        c AS (SELECT user_id, us AS click_us, max(event_id) AS click_id
              FROM e WHERE event_type = 'click' GROUP BY 1, 2),
        m AS (SELECT p.user_id, p.purchase_id, p.us, max(c.click_us) AS click_us
              FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.click_us <= p.us
              GROUP BY 1, 2, 3)
        SELECT m.user_id, m.purchase_id, m.us, m.click_us, c.click_id
        FROM m LEFT JOIN c ON m.user_id = c.user_id AND m.click_us = c.click_us
    """
# events inside 30 one-hour noon promo windows
ORACLES["events_range_join"] = """
        WITH promos AS (
          SELECT d AS promo_id,
                 1704067200000000 + (d * 24 + 12) * 3600000000 AS start_us,
                 1704067200000000 + (d * 24 + 13) * 3600000000 AS end_us
          FROM generate_series(0, 29) AS t(d)),
        e AS (SELECT user_id, epoch_us(ts) AS us FROM events)
        SELECT promo_id, count(*) AS n_events, count(DISTINCT user_id) AS n_users
        FROM e JOIN promos ON us >= start_us AND us < end_us
        GROUP BY 1
    """
# sliding windows: each event belongs to the 2 hour-aligned 2h windows covering it
ORACLES["events_sliding"] = """
        WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
        slots AS (SELECT us, event_type,
                         unnest([ (us // 3600000000) * 3600000000,
                                  (us // 3600000000) * 3600000000 - 3600000000 ]) AS w_start
                  FROM e)
        SELECT strftime(make_timestamp(w_start), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, count(*) AS n
        FROM slots GROUP BY 1, 2
    """
ORACLES["events_pivot"] = """
        SELECT strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d') AS day,
               cast(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) as bigint) AS n_click,
               cast(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) as bigint) AS n_purchase,
               cast(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) as bigint) AS n_signup,
               cast(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) as bigint) AS n_view,
               cast(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) as bigint) AS n_error
        FROM events GROUP BY 1
    """
# integer-exact PageRank, 3 unrolled iterations: micro-unit ranks,
# 85/100 rational damping, bigint floor-div contributions — identical
# arithmetic to analytics.graph.pagerank (div == // on non-negatives)
ORACLES["events_pagerank"] = """
        WITH stream AS (
            SELECT user_id, ts, event_id,
                   cast(json_extract_string(props, '$.k') as integer) AS page
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
        ),
        pairs AS (
            SELECT page AS src,
                   lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM stream
        ),
        e0 AS (SELECT src, dst, count(*) AS w FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2),
        outw AS (SELECT src, cast(sum(w) as bigint) AS wout FROM e0 GROUP BY 1),
        e AS (SELECT e0.src, e0.dst, e0.w, outw.wout FROM e0 JOIN outw USING (src)),
        nodes AS (SELECT DISTINCT src AS node FROM e0
                  UNION SELECT DISTINCT dst AS node FROM e0),
        it0 AS (SELECT node, cast(1000000 as bigint) AS r FROM nodes),
        it1 AS (SELECT n.node, cast(150000 + (85 * coalesce(s.c, 0)) // 100 as bigint) AS r
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node, cast(sum((p.r * e.w) // e.wout) as bigint) AS c
                    FROM e JOIN it0 p ON e.src = p.node GROUP BY e.dst) s USING (node)),
        it2 AS (SELECT n.node, cast(150000 + (85 * coalesce(s.c, 0)) // 100 as bigint) AS r
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node, cast(sum((p.r * e.w) // e.wout) as bigint) AS c
                    FROM e JOIN it1 p ON e.src = p.node GROUP BY e.dst) s USING (node)),
        it3 AS (SELECT n.node, cast(150000 + (85 * coalesce(s.c, 0)) // 100 as bigint) AS r
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node, cast(sum((p.r * e.w) // e.wout) as bigint) AS c
                    FROM e JOIN it2 p ON e.src = p.node GROUP BY e.dst) s USING (node))
        SELECT node, r AS rank_micro, round(r / 1000000.0, 6) AS "rank" FROM it3
    """
# integer-exact HITS, 2 unrolled iterations: each half-step sums h·w (or
# a·w) over edges then max-normalizes by integer division — identical
# arithmetic to analytics.graph.hits
ORACLES["events_hits"] = """
        WITH stream AS (
            SELECT user_id, ts, event_id,
                   cast(json_extract_string(props, '$.k') as integer) AS page
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
        ),
        pairs AS (
            SELECT page AS src,
                   lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM stream
        ),
        e AS (SELECT src, dst, cast(count(*) as bigint) AS w
              FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2),
        nodes AS (SELECT DISTINCT src AS node FROM e
                  UNION SELECT DISTINCT dst AS node FROM e),
        h0 AS (SELECT node, cast(1000000 as bigint) AS s FROM nodes),
        a1r AS (SELECT n.node, cast(coalesce(x.c, 0) as bigint) AS raw
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node, cast(sum(h.s * e.w) as bigint) AS c
                    FROM e JOIN h0 h ON e.src = h.node GROUP BY e.dst) x USING (node)),
        a1 AS (SELECT node, cast(CASE WHEN m.mx > 0 THEN (raw * 1000000) // m.mx ELSE 0 END as bigint) AS s
               FROM a1r, (SELECT max(raw) AS mx FROM a1r) m),
        h1r AS (SELECT n.node, cast(coalesce(x.c, 0) as bigint) AS raw
                FROM nodes n LEFT JOIN (
                    SELECT e.src AS node, cast(sum(a.s * e.w) as bigint) AS c
                    FROM e JOIN a1 a ON e.dst = a.node GROUP BY e.src) x USING (node)),
        h1 AS (SELECT node, cast(CASE WHEN m.mx > 0 THEN (raw * 1000000) // m.mx ELSE 0 END as bigint) AS s
               FROM h1r, (SELECT max(raw) AS mx FROM h1r) m),
        a2r AS (SELECT n.node, cast(coalesce(x.c, 0) as bigint) AS raw
                FROM nodes n LEFT JOIN (
                    SELECT e.dst AS node, cast(sum(h.s * e.w) as bigint) AS c
                    FROM e JOIN h1 h ON e.src = h.node GROUP BY e.dst) x USING (node)),
        a2 AS (SELECT node, cast(CASE WHEN m.mx > 0 THEN (raw * 1000000) // m.mx ELSE 0 END as bigint) AS s
               FROM a2r, (SELECT max(raw) AS mx FROM a2r) m),
        h2r AS (SELECT n.node, cast(coalesce(x.c, 0) as bigint) AS raw
                FROM nodes n LEFT JOIN (
                    SELECT e.src AS node, cast(sum(a.s * e.w) as bigint) AS c
                    FROM e JOIN a2 a ON e.dst = a.node GROUP BY e.src) x USING (node)),
        h2 AS (SELECT node, cast(CASE WHEN m.mx > 0 THEN (raw * 1000000) // m.mx ELSE 0 END as bigint) AS s
               FROM h2r, (SELECT max(raw) AS mx FROM h2r) m)
        SELECT n.node, h2.s AS hub_micro, a2.s AS auth_micro,
               round(h2.s / 1000000.0, 6) AS hub,
               round(a2.s / 1000000.0, 6) AS authority
        FROM nodes n JOIN h2 ON n.node = h2.node JOIN a2 ON n.node = a2.node
    """
# synchronous label propagation, 2 unrolled rounds: vote = sum of
# incident undirected weight per neighbor label; winner = max weight,
# min label — identical reduction to analytics.graph.label_propagation
ORACLES["events_communities"] = """
        WITH stream AS (
            SELECT user_id, ts, event_id,
                   cast(json_extract_string(props, '$.k') as integer) AS page
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
        ),
        pairs AS (
            SELECT page AS src,
                   lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
            FROM stream
        ),
        d0 AS (SELECT src AS u, dst AS v, count(*) AS w
               FROM pairs WHERE dst IS NOT NULL GROUP BY 1, 2),
        und AS (SELECT u, v, cast(sum(w) as bigint) AS w FROM (
                    SELECT u, v, w FROM d0
                    UNION ALL SELECT v AS u, u AS v, w FROM d0) GROUP BY u, v),
        l0 AS (SELECT DISTINCT u AS node, u AS label FROM und),
        v1 AS (SELECT e.u, l.label, cast(sum(e.w) as bigint) AS ws
               FROM und e JOIN l0 l ON e.v = l.node GROUP BY e.u, l.label),
        b1 AS (SELECT u, max(ws) AS best FROM v1 GROUP BY u),
        l1 AS (SELECT v1.u AS node, min(v1.label) AS label
               FROM v1 JOIN b1 ON v1.u = b1.u AND v1.ws = b1.best GROUP BY v1.u),
        v2 AS (SELECT e.u, l.label, cast(sum(e.w) as bigint) AS ws
               FROM und e JOIN l1 l ON e.v = l.node GROUP BY e.u, l.label),
        b2 AS (SELECT u, max(ws) AS best FROM v2 GROUP BY u),
        l2 AS (SELECT v2.u AS node, min(v2.label) AS label
               FROM v2 JOIN b2 ON v2.u = b2.u AND v2.ws = b2.best GROUP BY v2.u)
        SELECT node, label AS community FROM l2
    """
ORACLES["events_distinct_exact"] = """
        SELECT event_type,
               count(DISTINCT user_id) AS n_user_id,
               count(DISTINCT strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d')) AS n_day,
               count(*) AS n_rows
        FROM events GROUP BY event_type
    """
# same milli-quantization + integer inequality as anomaly.zscore_outliers:
# (n·v − S)² > k²(n·Q − S²) with k=2, evaluated in HUGEINT (exact, like
# Spark's decimal(38,0))
ORACLES["events_anomaly"] = """
        WITH ev AS (SELECT event_id, user_id,
                           cast(round(value * 1000, 0) as bigint) AS value_milli
                    FROM events),
        st AS (SELECT user_id, count(*) AS n, sum(value_milli) AS s,
                      sum(value_milli::HUGEINT * value_milli) AS q
               FROM ev GROUP BY user_id)
        SELECT event_id, user_id, value_milli
        FROM ev JOIN st USING (user_id)
        WHERE n >= 5
          AND (n::HUGEINT * value_milli - s) * (n::HUGEINT * value_milli - s)
              > 4 * (n::HUGEINT * q - s::HUGEINT * s)
    """
ORACLES["events_heavy_hitters"] = """
    SELECT event_type, user_id, cnt, cast(rk as int) AS rk FROM (
      SELECT event_type, user_id, count(*) AS cnt,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC, user_id) AS rk
      FROM events WHERE user_id IS NOT NULL
      GROUP BY event_type, user_id) t
    WHERE rk <= 5
"""
ORACLES["events_gap_fill"] = """
    WITH d AS (SELECT user_id, (epoch_us(ts) // 1000000) // 86400 AS day_idx
               FROM events),
    cells AS (SELECT user_id, day_idx, count(*) AS n FROM d GROUP BY 1, 2),
    span AS (SELECT user_id, min(day_idx) AS lo, max(day_idx) AS hi FROM d GROUP BY 1),
    grid AS (SELECT user_id, unnest(generate_series(lo, hi)) AS day_idx FROM span)
    SELECT g.user_id, g.day_idx, cast(coalesce(c.n, 0) as bigint) AS n_events
    FROM grid g LEFT JOIN cells c USING (user_id, day_idx)
"""
# naive a<b<c triangle listing — must agree exactly with the degree-ordered
# orientation the engine runs (both enumerate each triangle once)
ORACLES["events_triangles"] = """
    WITH stream AS (
        SELECT user_id, ts, event_id,
               cast(json_extract_string(props, '$.k') as integer) AS page
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    pairs AS (
        SELECT page AS src,
               lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM stream
    ),
    ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM pairs WHERE dst IS NOT NULL AND src <> dst),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM ed e1 JOIN ed e2 ON e1.b = e2.a
                       JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (SELECT x AS page FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri),
    nodes AS (SELECT a AS page FROM ed UNION SELECT b AS page FROM ed)
    SELECT n.page, cast(coalesce(c.cnt, 0) as bigint) AS n_triangles
    FROM nodes n LEFT JOIN (SELECT page, count(*) AS cnt FROM corners GROUP BY 1) c
    USING (page)
"""
ORACLES["events_quantiles"] = """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99
    FROM events GROUP BY 1
"""
# the events_triangles naive listing, extended with the simple-graph
# degree and the same bigint micro-division the engine runs (DuckDB
# BIGINT // and Spark div both truncate; operands non-negative)
ORACLES["events_clustering_coeff"] = """
    WITH stream AS (
        SELECT user_id, ts, event_id,
               cast(json_extract_string(props, '$.k') as integer) AS page
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    ),
    pairs AS (
        SELECT page AS src,
               lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        FROM stream
    ),
    ed AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
           FROM pairs WHERE dst IS NOT NULL AND src <> dst),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM ed e1 JOIN ed e2 ON e1.b = e2.a
                       JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b),
    corners AS (SELECT x AS page FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri),
    tc AS (SELECT page, count(*) AS cnt FROM corners GROUP BY 1),
    deg AS (SELECT page, cast(count(*) as bigint) AS deg
            FROM (SELECT a AS page FROM ed UNION ALL SELECT b FROM ed)
            GROUP BY 1)
    SELECT d.page, d.deg, cast(coalesce(tc.cnt, 0) as bigint) AS n_triangles,
           cast(CASE WHEN d.deg >= 2
                     THEN (2 * coalesce(tc.cnt, 0) * 1000000) // (d.deg * (d.deg - 1))
                     ELSE 0 END as bigint) AS cc_micro
    FROM deg d LEFT JOIN tc USING (page)
"""
# open/close picked by arg_min/arg_max over the SAME ts·10¹⁹ + event_id
# pack the engine orders by (HUGEINT here, decimal(38,0) there — both
# exact integer arithmetic, same total order for tie >= 0); no float is
# summed, so no quantization is needed anywhere
ORACLES["events_ohlc"] = """
    WITH k AS (SELECT user_id,
                      epoch_ns(ts) // 86400000000000 AS day_idx,
                      value,
                      epoch_ns(ts)::HUGEINT * 10000000000000000000::HUGEINT
                        + event_id::HUGEINT AS ok
               FROM events)
    SELECT user_id, cast(day_idx as bigint) AS day_idx,
           arg_min(value, ok) AS open, max(value) AS high, min(value) AS low,
           arg_max(value, ok) AS close, cast(count(*) as bigint) AS n_rows
    FROM k GROUP BY 1, 2
"""
# identical md5 counter grid as sketches.cm_sketch (the minhash '0x'||
# substr(md5...) bigint idiom); min over depth rows per item, then the
# same deterministic top-5 rank as events_heavy_hitters
ORACLES["events_heavy_hitters_cm"] = """
    WITH ev AS (SELECT event_type, user_id FROM events WHERE user_id IS NOT NULL),
    ds AS (SELECT unnest(generate_series(0, 3)) AS d),
    hashed AS (SELECT event_type, user_id, d,
                      ('0x' || substr(md5('cm:' || d || ':' || user_id), 1, 15))::bigint % 256 AS w
               FROM ev, ds),
    counters AS (SELECT event_type, d, w, cast(count(*) as bigint) AS c
                 FROM hashed GROUP BY 1, 2, 3),
    items AS (SELECT DISTINCT event_type, user_id FROM ev),
    est AS (SELECT i.event_type, i.user_id, min(c.c) AS est
            FROM items i
            JOIN ds ON true
            JOIN counters c
              ON c.event_type = i.event_type AND c.d = ds.d
             AND c.w = ('0x' || substr(md5('cm:' || ds.d || ':' || i.user_id), 1, 15))::bigint % 256
            GROUP BY 1, 2)
    SELECT event_type, user_id, est, cast(rk as int) AS rk FROM (
      SELECT event_type, user_id, est,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY est DESC, user_id) AS rk
      FROM est) t
    WHERE rk <= 5
"""
