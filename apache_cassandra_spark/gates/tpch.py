"""TPC-H-shaped OLAP gates and the bulk-analytics parity queries
(SURVEY.md §2.6, the Hadoop/Pig replacement): word count, the Pig group
count, rollups, windows and market baskets."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_cassandra_spark.analytics import text
from apache_cassandra_spark.gates.cass import _cf
from apache_cassandra_spark.gates.common import load_table


def q_pig_parity(spark, sf_dir):
    """The reference's Pig example (contrib/pig/example-script.pig):
    group-by-value + count + order + limit, through the CF scan() handoff."""
    cf = _cf(spark, sf_dir, "orders")
    return (
        cf.scan()
        .where(F.col("column") == F.lit(bytearray(b"o_orderpriority")))
        .groupBy(F.col("value").cast("string").alias("o_orderpriority"))
        .agg(F.count("*").alias("n_orders"))
    )


def q_wordcount(spark, sf_dir):
    """contrib/word_count parity: tokenize + count, top 100."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(text.tokens(F.lower(F.col("text")))).alias("word"))
    return (
        words.groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word"))
        .limit(100)
    )


def q_tpch_q1ish(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    disc_price = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(18,4)")
    return (
        li.where(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_orders_rollup(spark, sf_dir):
    """Native grouping-sets surface: ROLLUP over (status, priority) with
    the grouping-id disambiguating subtotal levels; decimal-exact sums so
    the float addition order can't break the cross-engine hash."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


def q_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence over lineitem: part pairs sharing an
    order, a-priori item pruning + basket-size guard before the pair
    join, top-25 by support."""
    from apache_cassandra_spark.analytics.basket import frequent_item_pairs

    li = load_table(spark, sf_dir, "lineitem")
    return frequent_item_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey",
        min_pair_support=1, min_item_support=2, k=25,
    )


def q_latest_order_per_customer(spark, sf_dir):
    """Window function: most recent order per customer (ties -> highest
    order key), the per-key top-1 shape used everywhere in feed systems."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey").desc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("latest_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("latest_orderdate"),
        )
    )


def q_status_priority_matrix(spark, sf_dir):
    """Two-dimensional grouping (the reference's Pig GROUP story, wider)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            # exact decimal sum -> double division: bit-identical across engines
            # (native AVG(decimal) result types differ between engines)
            (F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double") / F.count("*")).alias("avg_price"),
        )
    )


def q_tpch_q5ish(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume): six-table star join —
    region→nation→(customer, supplier) with the correlation predicate
    ``c_nationkey = s_nationkey`` tying the two dimension arms together
    through orders→lineitem. The widest declarative join in the suite:
    Catalyst reorders it, pushes the region/date filters to the scans,
    and AQE picks broadcast vs shuffle per side at runtime (only the
    two provably tiny dims are hinted). The reference could not join at
    all server-side — this entire shape was a client-side Pig script
    over ColumnFamilyInputFormat (contrib/pig/.../CassandraStorage.java).

    Float discipline: revenue terms rounded to decimal(18,4) BEFORE the
    sum (exact associative decimal addition), cast to double only on
    output — the q1ish/q3ish contract."""
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01"))
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .where(c.c_nationkey == s.s_nationkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


def q_tpch_q10ish(spark, sf_dir):
    """Returned-item reporting (TPC-H Q10 shape): lost revenue per
    customer over one quarter of returned lineitems, top-20. Exercises
    fact-fact join + selective date/flag filters (both pushed to the
    scans) + broadcast dim + top-k without a global sort
    (TakeOrderedAndProject)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(18,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where((F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01"))
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


def q_tpch_q18ish(spark, sf_dir):
    """Large-volume-customer report (TPC-H Q18 shape): orders whose
    total lineitem quantity exceeds 300, with customer identity, top-100
    by price. Exercises aggregate-then-semi-join — the quantity roll-up
    is partial-aggregated before its single shuffle, the tiny qualifying
    set comes back as an AQE-decided join against orders, and the top-k
    is TakeOrderedAndProject (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_qty"))
        .where(F.col("_qty") > 300)
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("_qty").cast("double").alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


def q_tpch_q14ish(spark, sf_dir):
    """Promo revenue share (TPC-H Q14 shape): conditional aggregation
    over a part⋈lineitem fact join with a one-month date filter pushed
    to the lineitem scan. Integer-exact inner sums (decimal), one final
    division."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(18,4)")
    j = (
        li.where((F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01"))
        .join(p, li.l_partkey == p.p_partkey)
    )
    return j.agg(
        F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0).cast("decimal(18,4)")))
        .cast("double")
        .alias("promo_revenue"),
        F.sum(rev).cast("double").alias("total_revenue"),
        F.round(
            F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0).cast("decimal(18,4)")))
            .cast("double")
            / F.sum(rev).cast("double")
            * 100,
            4,
        ).alias("promo_pct"),
    )


def q_tpch_q12ish(spark, sf_dir):
    """Shipping-priority audit (TPC-H Q12 shape): one-year lineitem
    date range pushed to the scan, fact⋈orders equi-join where the
    orders side is pruned to (key, priority), then conditional integer
    counts per group — the canonical join + CASE-aggregation report.
    The group key stands in for l_shipmode (not in this dataset)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = (
        li.where((F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1997-01-01"))
        .select("l_orderkey", "l_returnflag")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        j.groupBy(F.col("l_returnflag").alias("return_flag"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("long").alias("low_line_count"),
        )
        .orderBy("return_flag")
    )


def q_tpch_q13ish(spark, sf_dir):
    """Customer order-count distribution (TPC-H Q13 shape): left join
    that must PRESERVE zero-order customers (the order filter lives on
    the join's right side, not in a post-join WHERE — a customer whose
    only orders are excluded still lands in the c_count=0 bucket),
    per-customer count, then the histogram re-aggregation. Two hash
    aggregates, both partial-combined; no window, no sort until the
    final tiny histogram."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .select(F.col("c_count").cast("long").alias("c_count"), "custdist")
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


def q_tpch_q4ish(spark, sf_dir):
    """Order-priority audit (TPC-H Q4 shape): orders from one quarter
    that had at least one LATE lineitem (shipped > 60 days after the
    order date), counted per priority. The EXISTS compiles to a LEFT
    SEMI hash join on o_orderkey with the date inequality as the join
    residual — each order emits at most once no matter how many late
    lines it has, the orders-side date filter is pushed to its scan,
    and the lineitem side is pruned to (orderkey, shipdate). No
    correlated per-row subquery execution anywhere."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


def q_tpch_q22ish(spark, sf_dir):
    """Lapsed high-balance customers (TPC-H Q22 shape): per market
    segment, the count and total balance of customers whose balance
    exceeds the average POSITIVE balance of the candidate segments and
    who placed no order since 1999. Float discipline: balances are
    cents-exact doubles, so everything runs in bigint cents and the
    avg threshold is the exact rational test ``cents·n > total`` — no
    distributed float sum, no division at all. Plan shape: a 1-row
    global aggregate joined back (BroadcastNestedLoop on a single row —
    the documented bounded cross-join class), then a LEFT ANTI hash
    join against the pruned (custkey) recent-orders side, then one
    tiny per-segment aggregate."""
    segs = ("AUTOMOBILE", "BUILDING", "MACHINERY")
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin(*segs))
        .select(
            "c_custkey",
            "c_mktsegment",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        )
    )
    stats = c.where(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("_tot"), F.count(F.lit(1)).alias("_n")
    )
    recent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= "1999-01-01")
        .select("o_custkey")
    )
    cand = c.crossJoin(stats).where(F.col("bal_cents") * F.col("_n") > F.col("_tot"))
    lapsed = cand.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (
        lapsed.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum("bal_cents").cast("long").alias("total_bal_cents"),
        )
        .orderBy("c_mktsegment")
    )


def q_tpch_q17ish(spark, sf_dir):
    """Small-quantity-order revenue (TPC-H Q17 shape): per brand, the
    revenue from lineitems whose quantity is below 20% of that PART's
    average quantity. The correlated scalar subquery is decorrelated by
    hand into a per-part aggregate joined back — and, the part the
    optimizer can't do alone, the OUTER brand filter is pushed INTO the
    aggregate's domain (the per-part average only ever needs lineitems
    of brand-matched parts, because the correlation key is the part),
    so the stats pass scans the brand-pruned fact, not the whole table.
    Float discipline: quantities are integral (cast long), the 0.2·avg
    threshold is the exact rational test ``5·qty·n < sum_qty`` — no
    division, no float compare; revenue is the round-4 decimal sum the
    q3/q10/q14 gates already pin. At 100 TB: two shuffles of the
    brand-pruned fact (one per-part aggregate, one join back), both on
    the same key; lineitems-per-part is constant in TPC-H, so the
    bigint product is bounded at ~250·n_part_lines.

    The pruned fact is built once per consumer (stats pass, scoring
    pass) — measured against caching it at sf0.1: 0.85s recompute vs
    0.78s cached steady-state, a wash, and recompute keeps the
    operator stateless (the DSIR cache-vs-recompute discipline). The
    at-scale rescan cost is covered by Spark's runtime bloom-filter
    injection: the brand-part side is under the 10 MB creation
    threshold and the fact scan passes the 10 GB application threshold
    only in exactly the big-data regime, where both rescans get
    bloom-pruned to the brand fraction (verified enabled; below
    threshold at bench SF by design)."""
    brands = ("Brand#3", "Brand#13", "Brand#23")
    p = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand").isin(*brands))
        .select("p_partkey", "p_brand")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_extendedprice",
    )
    lb = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    stats = lb.groupBy("l_partkey").agg(
        F.sum("qty").alias("_sq"), F.count(F.lit(1)).alias("_n")
    )
    small = lb.drop("p_partkey").join(stats, "l_partkey").where(
        F.col("qty") * 5 * F.col("_n") < F.col("_sq")
    )
    return (
        small.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice"), 4).cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("p_brand")
    )


def q_tpch_q19ish(spark, sf_dir):
    """Discounted revenue under a disjunctive brand/size/quantity
    predicate (TPC-H Q19 shape) — written DECLARATIVELY: one join, one
    cross-table OR, no hand-hoisted envelopes. On classic engines Q19
    needs the per-side implications factored out by hand; we VERIFIED
    (rather than assumed) that Spark 4's constraint propagation derives
    them itself — each scan's PushedFilters carries the per-side
    ``Or(And(range), ...)`` projection of the disjunction (plan-locked,
    so an optimizer regression gets caught), which parquet row-group
    stats evaluate disjunct-by-disjunct. At 100 TB both scans therefore
    read only the OR-surviving fraction with zero manual plumbing.
    Quantity bounds compare the raw double column (values are integral,
    so the bounds are exact) to keep the filter scan-pushable — a cast
    would block pushdown."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    branch = (
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 10) & F.col("l_quantity").between(1, 15))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 40) & F.col("l_quantity").between(20, 45))
    )
    rev = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast("decimal(18,4)")
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .where(branch)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(rev).cast("double").alias("revenue"),
        )
        .orderBy("p_brand")
    )


def _waiting_suppliers(li, o, s, late_days: int = 90):
    """Core of the Q21 shape, shared by the gate and the reformulation
    fuzz test. ``numwait`` counts ORDERS (not lineitem rows) on which
    the supplier was the SOLE late supplier among ≥2 involved — the
    EXISTS / NOT-EXISTS pair of the textbook form collapsed into one
    per-(order, supplier) late flag plus one per-order profile:
    ``n_supp >= 2 AND n_late = 1`` ⟺ "another supplier exists, no
    other LATE supplier exists". Lossless vs the triple self-join
    (tests/test_tpch_shapes.py fuzzes both forms) but does ZERO fact
    self-joins: after the orderkey equi-join, BOTH aggregates satisfy
    their distribution from the join's orderkey partitioning (group
    keys (orderkey, suppkey) ⊇ orderkey), so at scale — where the
    orders side outgrows broadcast and the join shuffles on orderkey —
    the whole stack runs on two input exchanges and nothing else."""
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
    # explicit 1/0 (not a bool cast): a NULL ship/order date must score
    # 0 like the oracle's CASE, not NULL-propagate through the max/sum
    # stack (the heavy_hitters NULL-policy lesson — today's data has no
    # NULL dates, the dataset contract doesn't promise that forever)
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr(f"INTERVAL {late_days} DAYS"),
        F.lit(1),
    ).otherwise(F.lit(0))
    per_supp = j.groupBy("l_orderkey", "l_suppkey").agg(F.max(late).alias("late"))
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("_n_supp"),
        F.sum("late").alias("_n_late"),
        F.max(F.when(F.col("late") == 1, F.col("l_suppkey"))).alias("_late_supp"),
    )
    waits = per_order.where((F.col("_n_supp") >= 2) & (F.col("_n_late") == 1))
    return (
        waits.groupBy("_late_supp")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .join(s, F.col("_late_supp") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(25)
    )


def q_tpch_q21ish(spark, sf_dir):
    """Suppliers who kept orders waiting (TPC-H Q21 shape, adapted to
    this schema: "late" = shipped > 90 days after the order date, the
    q4ish lateness definition): top-25 suppliers by the number of
    finished multi-supplier orders where they were the ONLY late
    supplier. See ``_waiting_suppliers`` for the aggregate
    reformulation that replaces the textbook EXISTS + NOT-EXISTS fact
    self-joins with two stacked aggregates over ONE orderkey join."""
    o = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return _waiting_suppliers(li, o, s)


def q_tpch_q15ish(spark, sf_dir):
    """Top supplier(s) by quarterly revenue (TPC-H Q15 shape): the
    view-plus-scalar-max pattern — an aggregate compared against the
    maximum OF THAT SAME AGGREGATE, returning every supplier tied at
    the top. Float discipline: revenue is the round-4 decimal sum the
    q3/q10 gates pin, and the max-equality runs DECIMAL = DECIMAL —
    exact within each engine and across them (the sums are exactly
    equal integers in 1e-4 units); only the output column casts to
    double. Plan shape (verified, plan-locked): Catalyst extracts the
    crossJoin-then-equality into a BroadcastHashJoin ON the aggregate
    value itself (``_r = _m``) — no nested loop ANYWHERE in the plan —
    then an AQE-decided hash join against the supplier dim; the
    revenue aggregate is partial-combined over the date-pruned fact.
    At 100 TB the only corpus-sized shuffle is the suppkey aggregate."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).cast(
                    "decimal(18,4)"
                )
            ).alias("_r")
        )
    )
    mx = rev.agg(F.max("_r").alias("_m"))
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(mx)
        .where(F.col("_r") == F.col("_m"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("_r").cast("double").alias("total_rev"))
        .orderBy("s_suppkey")
    )


#: the DuckDB SQL each exactly-checked builder above must match
ORACLES: dict[str, str] = {}
ORACLES["pig_group_count"] = "SELECT o_orderpriority, count(*) AS n_orders FROM orders GROUP BY 1"
ORACLES["wordcount"] = """
        SELECT word, count(*) AS cnt FROM (
          SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word FROM documents)
        GROUP BY word ORDER BY cnt DESC, word LIMIT 100
    """
ORACLES["tpch_q1ish"] = """
        SELECT l_returnflag, l_linestatus,
               cast(sum(cast(l_quantity as decimal(18,4))) as double) AS sum_qty,
               cast(sum(cast(l_extendedprice as decimal(18,4))) as double) AS sum_base_price,
               cast(sum(cast(round(l_extendedprice * (1 - l_discount), 4) as decimal(18,4))) as double) AS sum_disc_price,
               count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """
ORACLES["orders_rollup"] = """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
               cast(sum(cast(o_totalprice AS decimal(18,4))) AS double) AS total,
               cast(grouping(o_orderstatus, o_orderpriority) AS bigint) AS gid
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """
# same a-priori pruning arithmetic as frequent_item_pairs
ORACLES["basket_pairs"] = """
        WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        freq AS (SELECT i FROM items GROUP BY i HAVING count(*) >= 2),
        kept AS (SELECT b, i FROM items WHERE i IN (SELECT i FROM freq)),
        sized AS (SELECT b FROM kept GROUP BY b HAVING count(*) <= 1000),
        k2 AS (SELECT b, i FROM kept WHERE b IN (SELECT b FROM sized)),
        p AS (SELECT a.i AS item_a, c.i AS item_b, count(*) AS support
              FROM k2 a JOIN k2 c ON a.b = c.b AND a.i < c.i
              GROUP BY 1, 2 HAVING count(*) >= 1)
        SELECT item_a, item_b, cast(support as bigint) AS support
        FROM p ORDER BY support DESC, item_a, item_b LIMIT 25
    """
ORACLES["latest_order_per_customer"] = """
        SELECT o_custkey, o_orderkey AS latest_orderkey,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS latest_orderdate
        FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders) t
        WHERE rn = 1
    """
ORACLES["status_priority_matrix"] = """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               cast(sum(cast(o_totalprice as decimal(18,4))) as double) / count(*) AS avg_price
        FROM orders GROUP BY 1, 2
    """
ORACLES["tpch_q5ish"] = """
        SELECT n_name,
               cast(sum(cast(round(l_extendedprice * (1 - l_discount), 4) as decimal(18,4))) as double) AS revenue
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= timestamp '1996-01-01 00:00:00'
          AND o_orderdate <  timestamp '1997-01-01 00:00:00'
        GROUP BY n_name
    """
ORACLES["tpch_q10ish"] = """
    SELECT c_custkey, c_name, n_name,
           cast(sum(cast(round(l_extendedprice * (1 - l_discount), 4) as decimal(18,4))) as double) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= timestamp '1996-07-01 00:00:00'
      AND o_orderdate <  timestamp '1996-10-01 00:00:00'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey LIMIT 20
"""
ORACLES["tpch_q18ish"] = """
    WITH big AS (
        SELECT l_orderkey, sum(cast(l_quantity as decimal(18,4))) AS qty
        FROM lineitem GROUP BY l_orderkey HAVING qty > 300)
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
           cast(o_totalprice as double) AS o_totalprice,
           cast(qty as double) AS total_qty
    FROM orders JOIN big ON o_orderkey = l_orderkey
                JOIN customer ON o_custkey = c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
"""
ORACLES["tpch_q14ish"] = """
    WITH j AS (
        SELECT p_type,
               cast(round(l_extendedprice * (1 - l_discount), 4) as decimal(18,4)) AS rev
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= timestamp '1996-03-01 00:00:00'
          AND l_shipdate <  timestamp '1996-04-01 00:00:00')
    SELECT cast(sum(CASE WHEN p_type = 'ECONOMY' THEN rev ELSE cast(0 as decimal(18,4)) END) as double) AS promo_revenue,
           cast(sum(rev) as double) AS total_revenue,
           round(cast(sum(CASE WHEN p_type = 'ECONOMY' THEN rev ELSE cast(0 as decimal(18,4)) END) as double)
                 / cast(sum(rev) as double) * 100, 4) AS promo_pct
    FROM j
"""
ORACLES["tpch_q12ish"] = """
    SELECT l_returnflag AS return_flag,
           cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) as bigint)
               AS high_line_count,
           cast(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) as bigint)
               AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
      AND l_shipdate <  timestamp '1997-01-01 00:00:00'
    GROUP BY 1 ORDER BY 1
"""
# order filter on the JOIN side (not post-join WHERE): customers whose
# only orders are 5-LOW must still appear in the c_count = 0 bucket
ORACLES["tpch_q13ish"] = """
    WITH co AS (
        SELECT c_custkey, count(o_orderkey) AS c_count
        FROM customer LEFT JOIN orders
          ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        GROUP BY c_custkey)
    SELECT cast(c_count as bigint) AS c_count,
           cast(count(*) as bigint) AS custdist
    FROM co GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""
ORACLES["tpch_q4ish"] = """
    SELECT o_orderpriority, cast(count(*) as bigint) AS order_count
    FROM orders o
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1 ORDER BY 1
"""
# integer-cents replay of the Q22 shape: avg threshold as the exact
# rational test cents*n > total (no distributed float sum anywhere);
# round(c_acctbal*100) is the same one double multiply+round in both
# engines, exact for the cents-valued source data
ORACLES["tpch_q22ish"] = """
    WITH c AS (SELECT c_custkey, c_mktsegment,
                      cast(round(c_acctbal * 100) as bigint) AS bal_cents
               FROM customer
               WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING', 'MACHINERY')),
    s AS (SELECT cast(sum(bal_cents) as bigint) AS tot, count(*) AS n
          FROM c WHERE bal_cents > 0),
    cand AS (SELECT c.* FROM c CROSS JOIN s WHERE c.bal_cents * s.n > s.tot),
    lapsed AS (SELECT * FROM cand
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_custkey = cand.c_custkey
                                   AND o.o_orderdate >= TIMESTAMP '1999-01-01'))
    SELECT c_mktsegment, cast(count(*) as bigint) AS numcust,
           cast(sum(bal_cents) as bigint) AS total_bal_cents
    FROM lapsed GROUP BY 1 ORDER BY 1
"""
# decorrelated Q17: same brand-pruned aggregate domain, same exact
# rational threshold 5*qty*n < sum_qty (all bigint, no division), same
# round-4 decimal revenue sum as the green q3/q10/q14 gates
ORACLES["tpch_q17ish"] = """
    WITH pp AS (SELECT p_partkey, p_brand FROM part
                WHERE p_brand IN ('Brand#3', 'Brand#13', 'Brand#23')),
    lb AS (SELECT l.l_partkey, pp.p_brand,
                  cast(l.l_quantity as bigint) AS qty, l.l_extendedprice
           FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey),
    st AS (SELECT l_partkey, cast(sum(qty) as bigint) AS sq, count(*) AS n
           FROM lb GROUP BY 1)
    SELECT lb.p_brand,
           cast(count(*) as bigint) AS n_lines,
           cast(sum(round(lb.l_extendedprice, 4)::DECIMAL(18,4)) as double) AS revenue
    FROM lb JOIN st ON lb.l_partkey = st.l_partkey
    WHERE lb.qty * 5 * st.n < st.sq
    GROUP BY 1 ORDER BY 1
"""
# Q19's OR runs verbatim — the hoisted scan envelopes on the Spark side
# are implied conjuncts, so they change the plan, not the rows; revenue
# is the round-4 decimal pattern (one float multiply, identical in both
# engines)
ORACLES["tpch_q19ish"] = """
    SELECT p_brand, cast(count(*) as bigint) AS n_lines,
           cast(sum(round(l_extendedprice * (1 - l_discount), 4)::DECIMAL(18,4))
                as double) AS revenue
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
       OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 40 AND l_quantity BETWEEN 20 AND 45)
    GROUP BY 1 ORDER BY 1
"""
# Q21's aggregate reformulation replayed literally: per-(order, supplier)
# late flag, per-order (n_supp, n_late, the late supplier), qualify at
# n_supp>=2 AND n_late=1, count orders per supplier; ties at the top-25
# boundary broken by s_suppkey in both engines
ORACLES["tpch_q21ish"] = """
    WITH fo AS (SELECT o_orderkey, o_orderdate FROM orders
                WHERE o_orderstatus = 'F'),
    ps AS (SELECT l.l_orderkey, l.l_suppkey,
                  max(CASE WHEN l.l_shipdate > fo.o_orderdate + INTERVAL 90 DAY
                           THEN 1 ELSE 0 END) AS late
           FROM lineitem l JOIN fo ON l.l_orderkey = fo.o_orderkey
           GROUP BY 1, 2),
    po AS (SELECT l_orderkey, count(*) AS n_supp, sum(late) AS n_late,
                  max(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
           FROM ps GROUP BY 1)
    SELECT s.s_suppkey, s.s_name, cast(count(*) as bigint) AS numwait
    FROM po JOIN supplier s ON po.late_supp = s.s_suppkey
    WHERE po.n_supp >= 2 AND po.n_late = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_suppkey LIMIT 25
"""
# Q15's view + scalar max replayed: same round-4 decimal revenue sum,
# max-equality in DECIMAL (exact — the sums are integers in 1e-4
# units), double only on the output column
ORACLES["tpch_q15ish"] = """
    WITH rev AS (
        SELECT l_suppkey,
               sum(round(l_extendedprice * (1 - l_discount), 4)::DECIMAL(18,4)) AS r
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
        GROUP BY 1),
    mx AS (SELECT max(r) AS m FROM rev)
    SELECT s.s_suppkey, s.s_name, cast(rev.r as double) AS total_rev
    FROM rev CROSS JOIN mx
    JOIN supplier s ON rev.l_suppkey = s.s_suppkey
    WHERE rev.r = mx.m
    ORDER BY s.s_suppkey
"""
