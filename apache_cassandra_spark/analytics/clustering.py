"""K-means over an embedding column — Lloyd's algorithm, Spark-shaped.

The iteration pattern is the standard distributed one (same as Spark
MLlib's KMeans): centroids are tiny (k × dim floats), so each round
collects them to the driver and re-embeds them as *literal* expressions —
the assignment pass is then a pure codegen'd map over the corpus (no
join, no shuffle for assignment), followed by one groupBy(cluster) with
per-dimension averages (k·dim partial aggregates, map-side combined).

Everything is deterministic: init is the k vectors with smallest
md5(id) (the same seedless sample the IVF index and SemDeDup use),
distance ties break to the lowest centroid index, and empty clusters
keep their previous centroid. Fixed iteration count — the usual
convergence-threshold variant adds a driver-side delta check without
changing the per-round shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_cassandra_spark.analytics.similarity import _dsql


def _dim_of(df: DataFrame, vec_col: str) -> int:
    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if first is None or first["d"] is None:
        raise ValueError("empty corpus or null first vector; pass vectors")
    return first["d"]


def _sq_dist_sql(vec: str, cent: list[float]) -> str:
    """SQL text of the squared-euclidean fold the Lloyd loop has always
    used — identical zip_with/aggregate nodes, one parse instead of a
    literal RPC per coordinate (the similarity SQL-text rendering note;
    every round re-embeds k x dim centroid literals, so the constructor
    path cost seconds of driver time per query)."""
    c_arr = ", ".join(_dsql(c) for c in cent)
    return (
        f"aggregate(zip_with({vec}, array({c_arr}), (x, c) -> (x - c) * (x - c)), "
        f"0.0D, (acc, d) -> acc + d)"
    )


def _round_mean_array_sql(dim: int, ndigits: int | None) -> str:
    """Per-dimension centroid means packaged as ONE array aggregate —
    k x dim values still reach the driver, in one column instead of
    ``dim`` python-built aggregate Columns."""
    if ndigits is None:
        cols = ", ".join(f"avg(_v[{i}])" for i in range(dim))
    else:
        cols = ", ".join(f"round(avg(_v[{i}]), {ndigits})" for i in range(dim))
    return f"array({cols})"


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Returns ``(id_col, cluster)`` — cluster ∈ [0, k) after ``iters``
    Lloyd rounds from the deterministic seedless init."""
    dim = _dim_of(df, vec_col)
    v = df.select(F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"))

    # farthest-point init (deterministic k-means++ flavor): first seed =
    # smallest md5(id); each next seed = the point farthest from its
    # nearest chosen seed (ties → lowest id). Greedy max-min puts one
    # seed per well-separated mode — plain sampled init can drop two
    # seeds in one blob and Lloyd's never recovers.
    first_row = v.orderBy(F.md5(F.col(id_col).cast("string")), id_col).limit(1).select("_v").collect()
    if not first_row:
        raise ValueError("empty corpus")
    centroids: list[list[float]] = [list(first_row[0]["_v"])]
    while len(centroids) < k:
        # min over the per-centroid squared-distance folds (SQL text —
        # same nodes, one parse per round instead of dim RPCs per centroid)
        folds = [_sq_dist_sql("_v", cent) for cent in centroids]
        min_dist = F.expr(f"least({', '.join(folds)})" if len(folds) > 1 else folds[0])
        far = (
            v.withColumn("_d", min_dist)
            .orderBy(F.col("_d").desc(), id_col)
            .limit(1)
            .select("_v")
            .collect()
        )
        centroids.append(list(far[0]["_v"]))

    def assign(frame: DataFrame) -> DataFrame:
        # dist to each centroid as a literal-folded expression; argmin via
        # array_min over (dist, index) structs — ties take the lower index
        cands = ", ".join(
            f"named_struct('dist', {_sq_dist_sql('_v', cent)}, 'idx', {i})"
            for i, cent in enumerate(centroids)
        )
        return frame.withColumn("cluster", F.expr(f"array_min(array({cands})).idx"))

    mean_arr = _round_mean_array_sql(dim, None)
    for _ in range(iters):
        assigned = assign(v)
        new_rows = assigned.groupBy("cluster").agg(F.expr(f"{mean_arr} AS cents")).collect()
        by_cluster = {r["cluster"]: list(r["cents"]) for r in new_rows}
        # empty cluster -> keep previous centroid (deterministic)
        centroids = [by_cluster.get(i, centroids[i]) for i in range(k)]

    return assign(v).select(id_col, "cluster")


def kmeans_assign_exact(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd's k-means whose every step is replayable in any SQL engine —
    the oracle-gated twin of ``kmeans_assign``. Three quantization points
    make the fixpoint portable (the ``cluster_assign`` float-parity
    pattern): init = the vectors with ``id < k`` (no sampling), each
    assignment takes argmin over euclidean distance ROUNDED to 6 decimals
    (ties -> lower centroid index), and each new centroid coordinate is
    the per-dimension mean ROUNDED to 6 decimals (empty cluster keeps
    the previous centroid). ``kmeans_assign`` keeps full precision and
    the farthest-point init, and stays rows-only.

    Scale shape is identical to ``kmeans_assign``: per round one
    map-only literal-folded assignment (no join/shuffle) plus one
    groupBy(cluster) with k x dim map-side-combined partial averages;
    only k x dim floats ever reach the driver."""
    dim = _dim_of(df, vec_col)
    v = df.select(
        F.col(id_col), F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v")
    )
    init = v.where((F.col(id_col) >= 0) & (F.col(id_col) < k)).orderBy(id_col).collect()
    if len(init) < k or [r[id_col] for r in init] != list(range(k)):
        # count alone is not enough: ids like {-1,0,1,2} would pass a
        # len check while cluster labels (list position) diverged from
        # the oracle's id-based labels
        raise ValueError(f"need ids exactly 0..{k - 1} for deterministic init")
    centroids: list[list[float]] = [list(r["_v"]) for r in init]

    def assign(frame: DataFrame) -> DataFrame:
        cands = ", ".join(
            f"named_struct('dist', round(sqrt({_sq_dist_sql('_v', cent)}), 6), 'idx', {i})"
            for i, cent in enumerate(centroids)
        )
        return frame.withColumn("_best", F.expr(f"array_min(array({cands}))"))

    mean_arr = _round_mean_array_sql(dim, 6)
    for _ in range(iters):
        assigned = assign(v)
        new_rows = (
            assigned.groupBy(F.col("_best").idx.alias("cluster"))
            .agg(F.expr(f"{mean_arr} AS cents"))
            .collect()
        )
        by_cluster = {r["cluster"]: list(r["cents"]) for r in new_rows}
        centroids = [by_cluster.get(i, centroids[i]) for i in range(k)]

    final = assign(v)
    return final.select(
        id_col,
        F.col("_best").idx.alias("cluster"),
        F.col("_best").dist.alias("dist"),
    )


def assign_to_centroids(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment against a FIXED centroid list —
    ``(id, cluster, dist)`` with ``dist`` the Euclidean distance ROUNDED
    to 6 decimals, and the argmin taken over the rounded value (ties →
    lower centroid index). Rounding before the argmin is what makes the
    assignment replayable in any engine (the ``sim_topk`` float-parity
    pattern); the iterative ``kmeans_assign`` keeps full precision
    internally and stays rows-only.

    Scale: centroids fold into the plan as literals (k × dim doubles) —
    a map-only projection, no join, no shuffle."""
    cands = ", ".join(
        f"named_struct('dist', round(sqrt({_sq_dist_sql(vec_col, cent)}), 6), 'idx', {i})"
        for i, cent in enumerate(centroids)
    )
    best = F.expr(f"array_min(array({cands}))")
    return df.select(F.col(id_col), best.idx.alias("cluster"), best.dist.alias("dist"))


def cluster_quality(assigned: DataFrame) -> DataFrame:
    """Per-cluster quality metrics over an assignment frame
    ``(…, cluster, dist)``: member count and INERTIA (within-cluster sum
    of squared distances — the quantity Lloyd's descends) as integer
    micro-units, ``Σ round(dist² · 10⁶)``.

    Works on any assignment source (`kmeans_assign[_exact]`,
    `assign_to_centroids`). The micro-quantization happens per row
    BEFORE the distributed sum (the bigram-LM float-parity discipline):
    each term is an exact bigint, so the aggregate is
    partition-order-proof and engine-replayable; summing raw doubles
    would hash differently per partitioning. One map-side-combinable
    hash aggregate on the cluster id — k output rows, no second pass
    over the vectors.
    """
    sq_micro = F.expr("cast(round(dist * dist * 1000000) as bigint)")
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(sq_micro).alias("inertia_micro"),
    )
