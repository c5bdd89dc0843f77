"""Vector gates over the embeddings table: top-k and range similarity,
quantization, projection, product quantization, ANN (LSH/IVF) and
k-means clustering."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_cassandra_spark.analytics import similarity
from apache_cassandra_spark.gates.common import load_table


def q_sim_topk(spark, sf_dir):
    em = load_table(spark, sf_dir, "embeddings")
    return similarity.cosine_topk(em, em.where(F.col("vec_id") < 5), k=5)


def q_embedding_quantize(spark, sf_dir):
    """Symmetric int8 quantization audit: per-vector scale plus integer
    aggregates of the quantized vector (sum / min / max / l2sq) — the
    arithmetic is half-up `floor(x/scale + 0.5)` in IEEE doubles, so the
    oracle reproduces every value bit-for-bit."""
    em = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_embeddings(em)
    return q.select(
        "vec_id",
        F.col("scale"),
        F.aggregate("qvec", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qvec").alias("q_min"),
        F.array_max("qvec").alias("q_max"),
        F.aggregate("qvec", F.lit(0).cast("bigint"), lambda a, x: a + x * x).alias("q_l2sq"),
    )


def q_embedding_project(spark, sf_dir):
    """Rademacher (±1) Johnson–Lindenstrauss projection to 4 dims — the
    pre-ANN dimensionality reducer. Deterministic md5-derived sign
    matrix; the oracle replays the same literal matrix with the same
    left-to-right summation order, so doubles match bit-for-bit."""
    return similarity.random_project(
        load_table(spark, sf_dir, "embeddings"), out_dim=4, in_dim=64
    )


def _pq_codebooks(spark, sf_dir):
    return similarity.pq_codebooks_from_first_k(
        load_table(spark, sf_dir, "embeddings"), m=4, k=8
    )


def q_embedding_pq_encode(spark, sf_dir):
    """Product-quantization encode (m=4 subspaces × k=8 codewords from
    the vectors with ids 0..7): each 64-dim vector compresses to 4 code
    bytes — map-only, codebooks folded as plan literals; the oracle
    rebuilds the identical codebook from the table and replays the
    round-6 argmin.

    Gate shape: the public ``pq_encode`` API returns ``codes
    array<int>``, but the driver's pandas canonicalizer cannot hash
    list cells (round-5 red row), so the GATE projects the array to
    scalar columns — ``code_0..code_3`` plus the base-8 packed int
    (each code is 0..7 with k=8 codewords)."""
    emb = load_table(spark, sf_dir, "embeddings")
    enc = similarity.pq_encode(emb, _pq_codebooks(spark, sf_dir))
    c = [F.col("codes")[j] for j in range(4)]
    return enc.select(
        "vec_id",
        *[c[j].cast("int").alias(f"code_{j}") for j in range(4)],
        (c[0] * 512 + c[1] * 64 + c[2] * 8 + c[3]).cast("int").alias("codes_packed"),
    )


def q_sim_pq_topk(spark, sf_dir):
    """Asymmetric-distance (ADC) top-25 for query vector vec_id=0 over
    the PQ codes: per-subspace lookup-table distances in integer
    micro-units, so the per-row sum is addition-order-exact and the SQL
    replay matches bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = _pq_codebooks(spark, sf_dir)
    # query = subspace-concat of codebook row 0: the codebooks ARE the
    # vec_id 0..7 slices (pq_codebooks_from_first_k), so vec 0 needs no
    # second scan-and-collect job
    query = [float(v) for j in range(len(cb)) for v in cb[j][0]]
    return similarity.pq_adc_topk(emb, query, cb, k_top=25)


def _embedding_project_oracle(out_dim: int = 4, in_dim: int = 64) -> str:
    """Same literal sign matrix, same fold: 0.0-seeded left-to-right sum
    (the trailing `+ 0.0` also normalizes a would-be -0.0)."""
    import math

    signs = similarity.rademacher_signs(out_dim, in_dim)
    scale = repr(1.0 / math.sqrt(out_dim))
    cols = []
    for k in range(out_dim):
        arr = "[" + ", ".join(str(v) for v in signs[k]) + "]"
        fold = (
            f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {in_dim}), "
            f"i -> CAST(embedding[i] AS DOUBLE) * ({arr}::INT[])[i])), (acc, x) -> acc + x)"
        )
        cols.append(f"round(({fold} + 0.0) * {scale}, 6) AS proj_{k}")
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


def q_cluster_kmeans(spark, sf_dir):
    """Deterministic Lloyd's k-means (farthest-point init) — rows-only
    entry: the fixpoint of an iterative algorithm has no portable
    single-statement SQL equivalent; determinism + blob-recovery are
    pinned by tests/test_analytics.py."""
    from apache_cassandra_spark.analytics.clustering import kmeans_assign

    return kmeans_assign(load_table(spark, sf_dir, "embeddings"), k=8, iters=3)


def q_cluster_kmeans_exact(spark, sf_dir):
    """Oracle-gated Lloyd's k-means (k=4, 2 rounds): init = vectors with
    vec_id < 4, argmin over round-6 distances (ties -> lower index), new
    centroids = per-dim means rounded to 6, empty clusters keep the
    previous centroid. The oracle unrolls both rounds as CTEs and
    replays assignment -> mean -> reassignment exactly — this anchors
    the iterative machinery that the full-precision ``cluster_kmeans``
    (farthest-point init, rows-only) shares."""
    from apache_cassandra_spark.analytics.clustering import kmeans_assign_exact

    return kmeans_assign_exact(load_table(spark, sf_dir, "embeddings"), k=4, iters=2)


def _kmeans_exact_oracle(k: int = 4, iters: int = 2, dim: int = 64) -> str:
    """Unrolled Lloyd rounds: a{i} assigns under centroid set c{i} (round-6
    distance, row_number ties -> lower cid), m{i+1}/c{i+1} rebuild round-6
    per-dimension means with a coalesce fallback for empty clusters."""
    parts = [
        f"c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cent "
        f"FROM embeddings WHERE vec_id < {k})"
    ]
    for i in range(iters):
        parts.append(
            f"a{i} AS (SELECT vec_id, cid FROM ("
            f"SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id "
            f"ORDER BY round(list_distance(e.embedding::DOUBLE[], c.cent), 6), c.cid) AS rn "
            f"FROM embeddings e, c{i} c) WHERE rn = 1)"
        )
        parts.append(
            f"m{i + 1} AS (SELECT a.cid, t.i, round(avg(CAST(e.embedding[t.i] AS DOUBLE)), 6) AS av "
            f"FROM a{i} a JOIN embeddings e USING (vec_id) "
            f"CROSS JOIN generate_series(1, {dim}) t(i) GROUP BY a.cid, t.i)"
        )
        parts.append(
            f"c{i + 1} AS (SELECT c{i}.cid, coalesce(n.cent, c{i}.cent) AS cent "
            f"FROM c{i} LEFT JOIN (SELECT cid, list(av ORDER BY i) AS cent "
            f"FROM m{i + 1} GROUP BY cid) n USING (cid))"
        )
    return (
        "WITH "
        + ", ".join(parts)
        + f" SELECT vec_id, cast(cid as int) AS cluster, dist FROM ("
        f"SELECT e.vec_id, c.cid, round(list_distance(e.embedding::DOUBLE[], c.cent), 6) AS dist, "
        f"row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY round(list_distance(e.embedding::DOUBLE[], c.cent), 6), c.cid) AS rn "
        f"FROM embeddings e, c{iters} c) WHERE rn = 1"
    )


def q_cluster_assign(spark, sf_dir):
    """Nearest-centroid assignment against fixed centroids (the
    embeddings of vec_id 0..7): distances rounded to 6 BEFORE the argmin,
    so the oracle's list_distance replays every assignment exactly —
    the oracle-gated half of the clustering surface (the iterative
    kmeans fixpoint stays rows-only)."""
    from apache_cassandra_spark.analytics.clustering import assign_to_centroids

    em = load_table(spark, sf_dir, "embeddings")
    cents = [
        [float(x) for x in r["embedding"]]
        for r in em.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    return assign_to_centroids(em, cents)


def q_sim_ann_lsh(spark, sf_dir):
    """LSH-bucketed ANN in the gate as a rows-only entry: approximate by
    design, so there is deliberately no SQL oracle — recall vs the exact
    brute force is pinned by tests/test_analytics.py instead."""
    em = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_lsh_topk(em, em.where(F.col("vec_id") < 5), k=5)


def q_sim_ann_ivf(spark, sf_dir):
    """IVF-flat ANN (deterministic sampled centroids, nprobe cells) —
    rows-only gate entry, same rationale as the LSH variant."""
    em = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(em, em.where(F.col("vec_id") < 5), k=5)


def q_cluster_inertia(spark, sf_dir):
    """Per-cluster k-means quality (size + integer-micro inertia) over
    the oracle-replayable 2-round Lloyd assignment: each round-6 dist is
    squared and micro-quantized PER ROW before the distributed sum, so
    the aggregate is partition-order-proof (clustering.cluster_quality).
    The oracle wraps the same unrolled-CTE Lloyd replay the
    cluster_kmeans_exact entry uses and aggregates its output."""
    from apache_cassandra_spark.analytics.clustering import (
        cluster_quality,
        kmeans_assign_exact,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return cluster_quality(kmeans_assign_exact(emb, k=4, iters=2))


def q_sim_range_search(spark, sf_dir):
    """Exact radius search: all corpus vectors with cosine ≥ 0.2 of any
    of the 5 seed queries (similarity.range_search) — broadcast seeds,
    map-only scored scan, output = the true match set (the
    decontamination / seed-expansion contract where top-k is wrong)."""
    from apache_cassandra_spark.analytics.similarity import range_search

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 5)
    return range_search(emb, q, threshold=0.2)


#: the DuckDB SQL each exactly-checked builder above must match
ORACLES: dict[str, str] = {}
# sim_ann_lsh_exact gate RETIRED round 13 (r12 verdict ENDORSED; funds
# corpus_prepare_crawl). Its oracle string was byte-identical to
# ORACLES["sim_topk"]; full-row equality of the planes=0 LSH path to
# cosine brute force stays pinned corpus-wide by
# tests/test_analytics.py::test_lsh_exact_gate_pin_equals_cosine_topk.
ORACLES["sim_topk"] = """
        SELECT query_id, neighbor_id, cos, cast(rank as integer) AS rank FROM (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos,
                 row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                            c.vec_id) AS rank
          FROM embeddings q, embeddings c
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id) t
        WHERE rank <= 5
    """
# identical IEEE-double arithmetic to quantize_embeddings: the scale
# is computed once (absmax/127.0), each element half-up rounded
ORACLES["embedding_quantize"] = """
        WITH m AS (SELECT vec_id, embedding,
                          list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS absmax
                   FROM embeddings),
        q AS (SELECT vec_id, absmax / 127.0 AS scale,
                     CASE WHEN absmax = 0 THEN list_transform(embedding, x -> 0)
                          ELSE list_transform(embedding,
                                 x -> CAST(floor(CAST(x AS DOUBLE) / (absmax / 127.0) + 0.5) AS INT))
                     END AS qv
              FROM m)
        SELECT vec_id, scale,
               cast(list_sum(qv) as bigint) AS q_sum,
               cast(list_min(qv) as int) AS q_min,
               cast(list_max(qv) as int) AS q_max,
               cast(list_sum(list_transform(qv, x -> x * x)) as bigint) AS q_l2sq
        FROM q
    """
ORACLES["embedding_project"] = _embedding_project_oracle()
# PQ: codebook = subvector slices of vec_ids 0..7 (m=4 x 16 dims);
# encode argmin on round-6 list_distance, ties -> lower cid — the
# identical reduction as similarity.pq_encode
ORACLES["embedding_pq_encode"] = """
        WITH cb AS (
            SELECT t.j, e.vec_id AS cid,
                   (e.embedding::DOUBLE[])[t.j*16+1 : t.j*16+16] AS cent
            FROM embeddings e, generate_series(0, 3) t(j)
            WHERE e.vec_id BETWEEN 0 AND 7
        ),
        enc AS (
            SELECT vec_id, j, cid AS code FROM (
                SELECT e.vec_id, cb.j, cb.cid,
                       row_number() OVER (PARTITION BY e.vec_id, cb.j
                           ORDER BY round(list_distance(
                               (e.embedding::DOUBLE[])[cb.j*16+1 : cb.j*16+16],
                               cb.cent), 6), cb.cid) AS rn
                FROM embeddings e, cb) WHERE rn = 1
        )
        SELECT vec_id,
               cast(max(CASE WHEN j = 0 THEN code END) as int) AS code_0,
               cast(max(CASE WHEN j = 1 THEN code END) as int) AS code_1,
               cast(max(CASE WHEN j = 2 THEN code END) as int) AS code_2,
               cast(max(CASE WHEN j = 3 THEN code END) as int) AS code_3,
               cast(max(CASE WHEN j = 0 THEN code END) * 512
                  + max(CASE WHEN j = 1 THEN code END) * 64
                  + max(CASE WHEN j = 2 THEN code END) * 8
                  + max(CASE WHEN j = 3 THEN code END) as int) AS codes_packed
        FROM enc GROUP BY vec_id
    """
# ADC top-25 for vec_id 0: per-subspace LUT distance in integer
# micro-units (round(d * 1e6)), integer sum over m=4 subspaces
ORACLES["sim_pq_topk"] = """
        WITH cb AS (
            SELECT t.j, e.vec_id AS cid,
                   (e.embedding::DOUBLE[])[t.j*16+1 : t.j*16+16] AS cent
            FROM embeddings e, generate_series(0, 3) t(j)
            WHERE e.vec_id BETWEEN 0 AND 7
        ),
        enc AS (
            SELECT vec_id, j, cid AS code FROM (
                SELECT e.vec_id, cb.j, cb.cid,
                       row_number() OVER (PARTITION BY e.vec_id, cb.j
                           ORDER BY round(list_distance(
                               (e.embedding::DOUBLE[])[cb.j*16+1 : cb.j*16+16],
                               cb.cent), 6), cb.cid) AS rn
                FROM embeddings e, cb) WHERE rn = 1
        ),
        q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        lut AS (SELECT cb.j, cb.cid,
                       cast(round(list_distance((q.qv)[cb.j*16+1 : cb.j*16+16], cb.cent)
                                  * 1000000) as bigint) AS dm
                FROM cb, q),
        dists AS (SELECT e.vec_id, cast(sum(l.dm) as bigint) AS dist_micro
                  FROM enc e JOIN lut l ON e.j = l.j AND e.code = l.cid
                  GROUP BY e.vec_id)
        SELECT vec_id, dist_micro, round(dist_micro / 1000000.0, 6) AS adc_dist
        FROM dists ORDER BY dist_micro, vec_id LIMIT 25
    """
ORACLES["cluster_kmeans_exact"] = _kmeans_exact_oracle()
# fixed centroids = embeddings of vec_id 0..7; argmin over the
# 6-rounded euclidean distance, ties -> lower centroid index
ORACLES["cluster_assign"] = """
        WITH c AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE vec_id < 8),
        d AS (SELECT e.vec_id, c.cid,
                     round(list_distance(e.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS dist
              FROM embeddings e, c),
        r AS (SELECT vec_id, cid, dist,
                     row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
              FROM d)
        SELECT vec_id, cast(cid as int) AS cluster, dist FROM r WHERE rn = 1
    """
# inertia aggregates the SAME unrolled Lloyd replay: per-row micro-quantized
# squared distance, then an exact bigint sum per cluster
ORACLES["cluster_inertia"] = f"""
    SELECT cast(cluster as int) AS cluster, count(*) AS n_vecs,
           cast(sum(cast(round(dist * dist * 1000000) as bigint)) as bigint) AS inertia_micro
    FROM ({_kmeans_exact_oracle()}) GROUP BY cluster
"""
ORACLES["sim_range_search"] = """
    SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
           round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cos
    FROM embeddings q, embeddings c
    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
      AND round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) >= 0.2
"""
