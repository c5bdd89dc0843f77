"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — brute-force exact top-k: broadcast the (small) query
  set against the corpus; the per-row dot product is a JVM higher-order
  function (``zip_with`` + ``aggregate``), no Python in the loop. At 100 TB
  this scans once, shuffles only (query_id, k) rows — the right baseline.
* ``ann_lsh_topk`` — the scale path: random-hyperplane LSH buckets the
  corpus; candidates = same-bucket rows only. Hyperplanes are derived
  deterministically from md5, so results are reproducible run-to-run.
* ``ivf_topk`` — IVF-style: coarse centroids (deterministic seed sample),
  probe the nearest ``nprobe`` cells only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# -- SQL-text rendering -----------------------------------------------------
# Literal-heavy builders (LSH hyperplanes, PQ codebooks) render their
# scoring expressions as SQL text parsed in ONE F.expr/selectExpr
# round-trip: every F.lit/F.array/lambda call is a py4j RPC (1-5 ms
# each, measured in local mode), and building thousands of nodes
# one by one spent SECONDS of single-threaded driver time per query
# (guide §7.3 — very large plans are a driver bottleneck at any scale).
#
# Bit-parity contract: the text is the same zip_with/aggregate fold as
# ``dot`` — an explicit 0.0 start, terms added left-to-right, each float
# element cast to double before the multiply — so every IEEE double
# matches a straight left-to-right Python fold bit-for-bit (locked by
# tests/test_analytics.py::test_single_forms_match_python_fold).


def _dsql(v: float) -> str:
    """Exact Spark-SQL double literal: repr() round-trips IEEE 754, and
    the parser's Double.parseDouble recovers the identical bits."""
    return repr(float(v)) + "D"


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    spread: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries``: (id_col, vec_col) — broadcast (must be driver-small; for
    query sets beyond broadcast size, bucket both sides instead).
    Excludes self-matches. Ties broken by neighbor id for determinism.

    ``spread``: repartition the corpus side to this many partitions
    before scoring. The brute-force score is |corpus| x |queries| work
    hung off the corpus SCAN's partitioning, so a corpus that arrives as
    one small split (a dedup-gate universe, a filtered sample) runs the
    whole quadratic stage in ONE task; ``spread=defaultParallelism``
    restores width (guide §2.5 — repartition after the read when the
    input's split count, not its bytes, is the bottleneck). Leave None
    when the corpus is already wide (corpus-scale inputs); the
    round-robin exchange only moves |corpus| rows and never changes the
    result (per-pair scores are row-local; ranking ties break on ids).
    """
    if spread:
        corpus = corpus.repartition(spread)
    # norms hoisted into the per-side projections (round 7): cosine() per
    # pair re-runs two interpreted norm folds per (row, query) — 3x the
    # per-pair cost, measured on the range_search probe. Same bits:
    # dot/(qnorm*cnorm) with the original operand order.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), norm(F.col(vec_col)).alias("_qn")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), norm(F.col(vec_col)).alias("_cn")
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _hyperplane_sign(vec: Column, plane: int, dim_count: Column) -> Column:
    """sign(v · h_plane) where h_plane[d] = ±1 from md5(plane, d)."""
    idx = F.sequence(F.lit(0), dim_count - 1)
    comps = F.zip_with(
        vec,
        idx,
        lambda x, d: x.cast("double")
        * (
            F.when(
                F.conv(F.substring(F.md5(F.concat_ws(":", F.lit(plane), d)), 1, 1), 16, 10).cast("int") % 2 == 0,
                1.0,
            ).otherwise(-1.0)
        ),
    )
    s = F.aggregate(comps, F.lit(0.0), lambda acc, v: acc + v)
    return F.when(s >= 0, F.lit("1")).otherwise(F.lit("0"))


def lsh_bucket(vec: Column, planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket id (bit string of plane signs)."""
    dim_count = F.size(vec)
    return F.concat(*[_hyperplane_sign(vec, p, dim_count) for p in range(planes)])


def _det_hyperplane(table: int, plane: int, dim: int) -> list[float]:
    """±1 hyperplane components derived from md5 — deterministic, no RNG
    (reproducible run-to-run and across engines)."""
    import hashlib

    out = []
    for d in range(dim):
        h = hashlib.md5(f"hp:{table}:{plane}:{d}".encode()).hexdigest()
        out.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
    return out


def lsh_bucket_tables(vec: str, dim: int, planes: int = 8, tables: int = 16) -> Column:
    """``array<struct<table:int, bucket:string>>`` — one hyperplane-sign
    bucket per LSH table (multi-table = the OR-amplified construction: a
    pair is a candidate if it shares a bucket in ANY table, which drives
    recall for near-identical vectors toward 1 while each table's bucket
    stays selective).

    The hyperplanes are ±1 *literals* baked into the plan (computed
    driver-side from md5), so the per-row cost is ``tables × planes``
    fused JVM multiply-adds — unlike ``lsh_bucket`` there is no
    per-element hashing at runtime.

    ``vec`` is a column NAME: the whole tables x planes x dim literal
    tree renders as one parsed SQL expression (the SQL-text rendering
    note: ~9k py4j constructor RPCs saved per call)."""
    entries = []
    for t in range(tables):
        signs = []
        for p in range(planes):
            hp = ", ".join(_dsql(x) for x in _det_hyperplane(t, p, dim))
            dotp = (
                f"aggregate(zip_with({vec}, array({hp}), "
                f"(a, b) -> CAST(a AS DOUBLE) * b), 0.0D, (acc, x) -> acc + x)"
            )
            signs.append(f"CASE WHEN {dotp} >= 0 THEN '1' ELSE '0' END")
        entries.append(f"named_struct('table', {t}, 'bucket', concat({', '.join(signs)}))")
    return F.expr(f"array({', '.join(entries)})")


def ann_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket.
    Join key = bucket id (equality shuffle, ~|corpus|/2^planes rows per
    bucket), so cost per query is the bucket size, not the corpus size."""
    # per-side norm hoist (round 7): see cosine_topk
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"), norm(F.col(vec_col)).alias("_cn")
    ).withColumn("bucket", lsh_bucket(F.col("cv"), planes))
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), norm(F.col(vec_col)).alias("_qn")
    ).withColumn("bucket", lsh_bucket(F.col("qv"), planes))
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _ivf_centroids(corpus: DataFrame, n_cells: int, id_col: str, vec_col: str) -> DataFrame:
    """Deterministic coarse centroids: the ``n_cells`` corpus rows with
    the smallest md5(id) — a seedless reproducible sample. Shared by
    ``ivf_topk`` and ``ivf_pq_topk`` so their routing can never drift."""
    return (
        corpus.select(F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent"))
        .orderBy(F.md5(F.col("cent_id").cast("string")))
        .limit(n_cells)
    )


def _assign_cells(corpus: DataFrame, cents: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(row -> nearest-centroid cell) by max cosine, centroid-id ties to
    the lower id — the shared IVF assignment reduction."""
    assign_w = Window.partitionBy("rid").orderBy(F.col("d").desc(), F.col("cent_id"))
    # row norm computed ONCE per row, centroid norm once per centroid —
    # not once per (row, centroid) inside the k-way cross (round 7)
    cn = cents.withColumn("_centn", norm(F.col("cent")))
    return (
        corpus.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("cv"), norm(F.col(vec_col)).alias("_rn"))
        .join(F.broadcast(cn), how="cross")
        .select(
            "rid",
            "cv",
            "cent_id",
            "_rn",
            (dot(F.col("cv"), F.col("cent")) / (F.col("_rn") * F.col("_centn"))).alias("d"),
        )
        .withColumn("r", F.row_number().over(assign_w))
        .where(F.col("r") == 1)
        .select("rid", "cv", "cent_id", "_rn")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-flat style ANN: centroids = deterministic corpus sample (ids with
    smallest md5 — a seedless reproducible sample), cells = nearest
    centroid; queries probe their ``nprobe`` nearest cells only."""
    cents = _ivf_centroids(corpus, n_cells, id_col, vec_col)
    # carry the assignment's per-row norm into scoring instead of
    # recomputing the interpreted fold over every corpus row
    assigned = _assign_cells(corpus, cents, id_col, vec_col).select(
        F.col("rid").alias("neighbor_id"), "cv", "cent_id", F.col("_rn").alias("_cn")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), norm(F.col(vec_col)).alias("_qn")
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.col("d").desc(), F.col("cent_id"))
    cn = cents.withColumn("_centn", norm(F.col("cent")))
    probes = (
        q.join(F.broadcast(cn), how="cross")
        .select(
            "query_id",
            "qv",
            "_qn",
            "cent_id",
            (dot(F.col("qv"), F.col("cent")) / (F.col("_qn") * F.col("_centn"))).alias("d"),
        )
        .withColumn("r", F.row_number().over(probe_w))
        .where(F.col("r") <= nprobe)
        .select("query_id", "qv", "_qn", "cent_id")
    )
    scored = (
        assigned.join(F.broadcast(probes), "cent_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|x| / 127``,
    ``q_i = floor(x_i / scale + 0.5)`` (half-up, exact in IEEE double so
    any engine reproduces it bit-for-bit). All-zero vectors quantize to
    zeros with scale 0. Returns ``(id_col, qvec array<int>, scale)``.

    Why: at 100 TB an fp32 embedding column is 4 bytes/dim; int8 cuts
    storage and shuffle width 4x and keeps cosine ranking nearly intact
    (see test_quantized_topk_recall). Map-only — one JVM higher-order
    projection, no shuffle, no Python."""
    # bind absmax/scale through an intermediate projection: referencing the
    # unbound array_max expression inside the per-element transform lambda
    # re-evaluates it for EVERY element (O(d^2) per row — the same
    # Catalyst re-evaluation trap ngrams_from_tokens documents). Spark's
    # CollapseProject keeps the split because the bound column is
    # referenced d times.
    x = F.col(vec_col)
    absmax = F.array_max(F.transform(x, lambda v: F.abs(v.cast("double"))))
    bound = df.select(F.col(id_col), x.alias("_v"), (absmax / F.lit(127.0)).alias("scale"))
    qv = F.when(
        F.col("scale") == 0.0, F.transform(F.col("_v"), lambda v: F.lit(0))
    ).otherwise(
        F.transform(
            F.col("_v"),
            lambda v: F.floor(v.cast("double") / F.col("scale") + F.lit(0.5)).cast("int"),
        )
    )
    return bound.select(F.col(id_col), qv.alias("qvec"), F.col("scale"))


def dequantize(qvec: Column, scale: Column) -> Column:
    """Inverse map back to array<double>: ``x_i ~ q_i * scale``."""
    return F.transform(qvec, lambda q: q.cast("double") * scale)


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force cosine top-k over int8-quantized vectors — the
    4x-narrower scan/shuffle variant of `cosine_topk`. The dot product
    runs on dequantized doubles (same JVM fold); ranking differs from
    exact only by quantization error (recall test pins >= 0.9 @ k=5)."""
    qc = quantize_embeddings(corpus, vec_col, id_col)
    qq = quantize_embeddings(queries, vec_col, id_col)
    c = qc.select(
        F.col(id_col).alias("corpus_id"), dequantize(F.col("qvec"), F.col("scale")).alias("cv")
    ).withColumn("_cn", norm(F.col("cv")))
    q = qq.select(
        F.col(id_col).alias("query_id"), dequantize(F.col("qvec"), F.col("scale")).alias("qv")
    ).withColumn("_qn", norm(F.col("qv")))
    # same contract as cosine_topk: self-matches excluded; norms hoisted
    # per side (round 7) — dequantize runs once per row too, not per pair
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id")).select(
        "query_id",
        "corpus_id",
        (dot(F.col("cv"), F.col("qv")) / (F.col("_cn") * F.col("_qn"))).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("corpus_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def rademacher_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign(k, i) = parity of the
    first md5 byte of ``"rp:k:i"``. Any engine (or the oracle SQL
    generator) can re-derive it from the formula; in practice it's
    embedded as literals — out_dim×in_dim ints are driver-trivial."""
    import hashlib

    return [
        [1 - 2 * (hashlib.md5(f"rp:{k}:{i}".encode()).digest()[0] & 1) for i in range(in_dim)]
        for k in range(out_dim)
    ]


def random_project(
    df: DataFrame,
    out_dim: int = 8,
    in_dim: int | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction with a Rademacher
    (±1) matrix (Achlioptas 2003): ``proj_k = (1/sqrt(out_dim)) *
    sum_i x_i * sign(k, i)`` — distances are preserved within
    ~(1 ± eps) at out_dim = O(log n / eps²), which is what you project
    a 100 TB embedding column through BEFORE the ANN index, not after.

    Map-only: one JVM fold per output dim, the ±1 matrix folded into
    the plan as literals; no shuffle, no Python. The left-to-right
    fold from an explicit 0.0 keeps the summation order (and therefore
    every IEEE double) reproducible across engines."""
    import math

    if in_dim is None:
        # driver-blocking FULL-SCAN inference job — pass in_dim explicitly
        # on hot/streaming paths. max() rather than a short-circuiting
        # first(): first() on an unordered frame returns whichever row a
        # partition scans first, so on a ragged corpus the inferred dim
        # (and the whole sign matrix) would be partition-order dependent —
        # a determinism regression this repo's replayability contract
        # cannot afford. max() also skips NULL vectors (a NULL first row
        # must not masquerade as an empty corpus).
        first = df.select(F.max(F.size(F.col(vec_col))).alias("d")).first()
        if first is None or first["d"] is None or first["d"] <= 0:
            id_type = df.schema[id_col].dataType.simpleString()
            return df.sparkSession.createDataFrame(
                [],
                f"{id_col} {id_type}, "
                + ", ".join(f"proj_{k} double" for k in range(out_dim)),
            )
        in_dim = first["d"]
    signs = rademacher_signs(out_dim, in_dim)
    scale = 1.0 / math.sqrt(out_dim)
    # SQL-text rendering of the same zip_with/aggregate tree (identical
    # nodes, one parse instead of out_dim x in_dim literal RPCs — the
    # SQL-text rendering note)
    cols = []
    for k in range(out_dim):
        s_arr = ", ".join(str(v) for v in signs[k])
        total = (
            f"aggregate(zip_with({vec_col}, array({s_arr}), "
            f"(x, s) -> CAST(x AS DOUBLE) * CAST(s AS DOUBLE)), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        cols.append(f"round({total} * {_dsql(scale)}, 6) AS proj_{k}")
    return df.selectExpr(id_col, *cols)


# ---------------------------------------------------------------------------
# product quantization (the PQ half of the IVF-PQ stack)
# ---------------------------------------------------------------------------


def _sub_euclid_raw_sql(sub: str, cent: list[float]) -> str:
    """SQL text of the euclidean distance between a subvector expression
    and a literal codeword — left-to-right association, identical to DuckDB's
    list_distance (the cross-engine parity the kmeans gate established).
    UNROUNDED: call sites quantize exactly once (round-6 for encode
    argmin, round-0 micro for the ADC LUT) — rounding twice with
    different grids is how replays diverge.

    Stays a higher-order ``aggregate`` fold ON PURPOSE: unrolling the
    k x m x sub_dim distance terms into explicit expression chains was
    MEASURED SLOWER (1.5s -> 4.1s encode at sf0.1) — the ~500-node tree
    per row blows past whole-stage-codegen limits and falls back to
    interpreted expression eval, which loses to the lambda fold."""
    c_arr = ", ".join(_dsql(v) for v in cent)
    return (
        f"sqrt(aggregate(zip_with({sub}, array({c_arr}), "
        f"(x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)), "
        f"0.0D, (acc, v) -> acc + v))"
    )


def _sub_euclid_sql(sub: str, cent: list[float]) -> str:
    return f"round({_sub_euclid_raw_sql(sub, cent)}, 6)"


def pq_codebooks_from_first_k(
    df: DataFrame, m: int = 4, k: int = 8, id_col: str = "vec_id", vec_col: str = "embedding"
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: subspace ``j``'s codewords are the
    ``j``-th subvector slices of the vectors with ids exactly ``0..k-1``
    — the same fixed-init discipline as ``clustering.kmeans_assign_exact``
    (no sampling, no RNG), so any engine rebuilds the identical codebook
    from the table. Returns ``codebooks[j][c] -> list[float]``. A
    Lloyd-refined codebook plugs into the same ``pq_encode``; the fixed
    path is what the oracle gate replays."""
    rows = (
        df.select(id_col, vec_col)  # don't ship unrelated payload columns
        .where((F.col(id_col) >= 0) & (F.col(id_col) < k))
        .orderBy(id_col)
        .collect()
    )
    if len(rows) < k or [r[id_col] for r in rows] != list(range(k)):
        raise ValueError(f"need ids exactly 0..{k - 1} for deterministic codebooks")
    dim = len(rows[0][vec_col])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible into {m} subspaces")
    sub = dim // m
    return [
        [[float(v) for v in r[vec_col][j * sub : (j + 1) * sub]] for r in rows]
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization encode: split each vector into ``m``
    subvectors and replace each with the index of its nearest codeword
    (round-6 euclidean, ties → lower code) → ``(id, codes array<int>)``.
    With m=4 × k=8 that is 4 bytes per vector instead of 256 — the
    compression that makes billion-vector ANN indexes fit in memory.

    Scale shape: entirely MAP-ONLY — the codebooks fold into the plan as
    literals (k × m × sub_dim floats), every argmin is a JVM
    ``array_min`` over a per-row candidate struct array, no shuffle, no
    Python. The same shape as ``cluster_assign``; IVF routing
    (``ivf_topk``) composes in front for the full IVF-PQ stack."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    # rendered as ONE selectExpr string: the tree is identical to the
    # F.array/F.struct/fold construction (same HOF nodes — the unrolled
    # arithmetic alternative was measured SLOWER, see _sub_euclid_raw_sql),
    # but built in a single parse instead of ~2k py4j constructor calls
    # (~1-5 ms each of driver time — the SQL-text rendering note).
    code_cols = []
    for j in range(m):
        subvec = f"slice({vec_col}, {j * sub + 1}, {sub})"
        cands = ", ".join(
            f"named_struct('d', {_sub_euclid_sql(subvec, cent)}, 'c', {c})"
            for c, cent in enumerate(codebooks[j])
        )
        code_cols.append(f"array_min(array({cands})).c")
    return df.selectExpr(id_col, f"array({', '.join(code_cols)}) AS codes")


def pq_adc_topk(
    df: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k_top: int = 25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: the query stays exact,
    each subspace contributes a lookup-table distance to its assigned
    codeword, and the ADC distance is the SUM of ``m`` table entries →
    smallest ``k_top`` by ``(distance, id)``.

    The LUT entries are integer MICRO-units (``round(d × 1e6)``), so the
    per-row sum is integer-exact — addition-order-free and bit-identical
    in any replaying engine (the ``graph`` module's discipline); the
    float distance column is derived from the integer at the end.

    Scale shape: ``pq_encode``'s map-only argmin + one literal-array
    lookup per subspace + ``TakeOrderedAndProject`` — the index scan
    costs m array-index reads per row instead of a dim-length float
    fold, which is the entire point of PQ at 10^9 vectors."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if len(query) != m * sub:
        raise ValueError(f"query dim {len(query)} != {m * sub}")
    encoded = pq_encode(df, codebooks, id_col=id_col, vec_col=vec_col)
    # LUT entries are all-literal expressions — rendered as SQL text (one
    # parse) and constant-folded by Catalyst exactly as the F.* form was;
    # keeping the fold in Catalyst (rather than computing the constants in
    # Python) preserves the engine's rounding bit-for-bit by construction.
    terms = []
    for j in range(m):
        q_sub = [float(v) for v in query[j * sub : (j + 1) * sub]]
        q_arr = f"array({', '.join(_dsql(v) for v in q_sub)})"
        lut = ", ".join(
            f"CAST(round({_sub_euclid_raw_sql(q_arr, cent)} * 1000000, 0) AS BIGINT)"
            for cent in codebooks[j]
        )
        terms.append(f"element_at(array({lut}), codes[{j}] + 1)")
    total = " + ".join(terms)
    return (
        encoded.selectExpr(id_col, f"{total} AS dist_micro")
        .orderBy("dist_micro", id_col)
        .limit(k_top)
        .select(
            id_col,
            "dist_micro",
            F.round(F.col("dist_micro") / 1_000_000, 6).alias("adc_dist"),
        )
    )


def ivf_pq_topk(
    corpus: DataFrame,
    query: list[float],
    codebooks: list[list[list[float]]],
    k_top: int = 25,
    n_cells: int = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The composed IVF-PQ index scan — the canonical billion-vector ANN
    architecture: IVF coarse routing restricts the scan to the query's
    ``nprobe`` nearest cells, then PQ asymmetric distance ranks the
    survivors. Both halves are the engine's oracle-gated primitives
    (`ivf_topk`'s deterministic md5-sample centroids; `pq_adc_topk`'s
    integer-micro LUT scoring), so the composition is deterministic
    end-to-end; with ``nprobe == n_cells`` it degenerates to exactly
    ``pq_adc_topk`` over the whole corpus (the testable contract).

    Scale shape: cell assignment and ADC scoring are both map-only with
    broadcast centroids; the cell filter drops (1 − nprobe/n_cells) of
    the corpus before any distance math; top-k is TakeOrderedAndProject.
    """
    qdf = corpus.sparkSession.createDataFrame(
        [([float(v) for v in query],)], f"{vec_col} array<double>"
    )
    cents = _ivf_centroids(corpus, n_cells, id_col, vec_col)
    assigned = _assign_cells(corpus, cents, id_col, vec_col).select("rid", "cent_id")
    probe_w = Window.orderBy(F.col("d").desc(), F.col("cent_id"))
    probes = (
        qdf.join(F.broadcast(cents), how="cross")
        .select("cent_id", cosine(F.col(vec_col), F.col("cent")).alias("d"))
        .withColumn("r", F.row_number().over(probe_w))
        .where(F.col("r") <= nprobe)
        .select("cent_id")
    )
    routed = corpus.join(
        assigned.join(F.broadcast(probes), "cent_id").select(F.col("rid").alias(id_col)),
        id_col,
    )
    return pq_adc_topk(routed, query, codebooks, k_top=k_top, id_col=id_col, vec_col=vec_col)


def range_search(
    corpus: DataFrame,
    queries: DataFrame,
    threshold: float = 0.2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact radius search: every (query, corpus) pair with cosine ≥
    ``threshold`` → ``(query_id, corpus_id, cos)``. The "find everything
    similar to these seeds" primitive (decontamination against an eval
    set, targeted takedown sweeps, seed-expansion labeling) — top-k is
    the wrong contract there: the caller needs ALL matches above the
    radius, however many.

    Scale shape: the query set broadcasts (driver-small seed sets are
    the semantic; for query sets beyond broadcast size, bucket both
    sides with ``lsh_bucket_tables`` and verify exactly, like
    ``embedding_dup_pairs``); the corpus streams MAP-ONLY through one
    dot/norm fold per (row, query) — no shuffle at all until
    the caller aggregates. Output volume is the true result size; the
    threshold is the only knob. Self-matches excluded. ``cos`` rounded
    to 6 so the threshold comparison is engine-exact.
    """
    # norms are projected ONCE PER SIDE before the join: computing
    # cosine() per pair would re-run two interpreted norm folds per
    # (row, query) — measured 3x the per-pair cost (probe α crept to
    # 1.11 before this; the per-pair work is now a single dot fold).
    # Bit-identical result: the same double norm values multiply either way.
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"), norm(F.col(vec_col)).alias("_qn")
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), F.col(vec_col).alias("cv"), norm(F.col(vec_col)).alias("_cn")
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("corpus_id"))
        .select(
            "query_id",
            "corpus_id",
            F.round(dot(F.col("qv"), F.col("cv")) / (F.col("_qn") * F.col("_cn")), 6).alias("cos"),
        )
        .where(F.col("cos") >= F.lit(threshold))
    )
