"""Deduplication gates: exact, n-gram Jaccard/containment (naive and
prefix-filtered), MinHash/SimHash, embedding and semantic dedup, line and
span dedup, novelty, and the mutual-kNN k-core/coreness peels."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_cassandra_spark.analytics import dedup
from apache_cassandra_spark.gates.common import load_table


def q_dedup_exact(spark, sf_dir):
    return dedup.exact_dup_groups(load_table(spark, sf_dir, "documents"))


def q_dedup_jaccard(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(load_table(spark, sf_dir, "documents"), n=3, threshold=0.5)


def q_dedup_prefix_jaccard(spark, sf_dir):
    """PPJoin-style prefix-filtered Jaccard self-join
    (dedup.prefix_jaccard_pairs): candidates restricted to collisions on
    each document's rarest ``n − ceil(t·n) + 1`` shingles (global
    doc-freq order) + length filter, then exact verification on the
    survivors. LOSSLESS by the prefix-filter theorem, so the oracle is
    the plain all-pairs Jaccard SQL at the same threshold — the gate
    proves the optimization changes nothing. Gated at t=0.8, the
    operator's home regime (prefix ≈ 20% of each doc; common shingles
    never enter it — SCALE.md round-7 probes): the scale path for
    set-similarity joins where the full inverted-index join's Σ df²
    blows up on corpus-wide boilerplate."""
    return dedup.prefix_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


def q_dedup_prefix_containment(spark, sf_dir):
    """Prefix-filtered DIRECTED containment
    (dedup.prefix_containment_pairs): one-sided prefix theorem —
    c(A→B) >= t forces the intersection into A's rarest
    |A| − ceil(t·|A|) + 1 tokens, so candidates are π(A) against B's
    full postings with the |B| >= t·|A| size prune. LOSSLESS: gated
    against the same naive all-pairs oracle as dedup_containment
    (identical threshold, shared SQL body by construction)."""
    return dedup.prefix_containment_pairs(
        load_table(spark, sf_dir, "documents"), n=3, threshold=0.8
    )


def q_dedup_minhash(spark, sf_dir):
    return dedup.minhash_lsh_candidates(load_table(spark, sf_dir, "documents"), n=3, num_perm=16, bands=4)


def q_dedup_simhash(spark, sf_dir):
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


_EMB_DIM = 64  # driver embeddings.parquet dimension (TESTDATA.md)


def _planted_dup_corpus(spark, sf_dir, offset: int = 100_000, eps: float = 0.15):
    """Corpus ∪ deterministic near-duplicate of every vector: v' = v +
    eps·rot(v) (rot = rotate-left-one). cos(v, v') ≈ 1/√(1+eps²) ≈ 0.989,
    so each (id, id+offset) pair is a true near-dup with a real angular
    offset (~8-14°) — the recall target for the LSH dedup path. The same
    construction is reproduced in the DuckDB oracle."""
    em = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    base = em.select("vec_id", dbl.alias("embedding"))
    rot = F.concat(
        F.slice(F.col("embedding"), 2, _EMB_DIM - 1), F.slice(F.col("embedding"), 1, 1)
    )
    pert = base.select(
        (F.col("vec_id") + offset).alias("vec_id"),
        F.zip_with(F.col("embedding"), rot, lambda a, b: a + F.lit(eps) * b).alias("embedding"),
    )
    return base.unionByName(pert)


def q_dedup_embedding(spark, sf_dir):
    """Shipped LSH near-dup path: multi-table hyperplane candidates + exact
    cosine verify, over the corpus with planted near-identical pairs. The
    brute-force oracle checks recall == 1.0 (any missed candidate pair
    hash-mismatches)."""
    return dedup.embedding_dup_pairs(_planted_dup_corpus(spark, sf_dir), threshold=0.95, dim=_EMB_DIM)


def q_dedup_embedding_exact(spark, sf_dir):
    """O(n²) baseline at a low threshold — small-sf oracle cross-check for
    the cosine expression itself (not the shipped dedup path)."""
    return dedup.embedding_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.35, method="brute"
    )


def q_dedup_groups_star(spark, sf_dir):
    """MinHash candidates → connected components by the alternating
    large-star/small-star algorithm (O(log n) rounds instead of
    diameter-bound label propagation): the full dedup-grouping pipeline
    (pair generation + transitive closure) under one oracle. (The
    label-propagation form, dup_groups_from_pairs, retired its gate in
    round 8 — subsumed by this one; it stays unit-tested against the
    same contract in tests/test_analytics.py.)"""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.dup_groups_star(dedup.minhash_lsh_candidates(docs))


def _closure_ctes(pairs_cte: str, iters: int = 8) -> list[str]:
    """CTE chain for the min-label closure, ending at ``l{iters}``."""
    sql = [
        f"pairs AS MATERIALIZED ({pairs_cte})",
        "e AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs "
        "UNION SELECT id_b, id_a FROM pairs)",
        "l0 AS (SELECT DISTINCT a AS id, a AS label FROM e)",
    ]
    for k in range(iters):
        sql.append(
            f"l{k + 1} AS MATERIALIZED (SELECT l.id, least(l.label, coalesce(min(n.label), l.label)) AS label "
            f"FROM l{k} l LEFT JOIN e ON e.a = l.id LEFT JOIN l{k} n ON n.id = e.b "
            "GROUP BY l.id, l.label)"
        )
    return sql


def _min_label_closure_sql(pairs_cte: str, iters: int = 8) -> str:
    """Fixed-iteration min-label propagation in portable SQL: l0 = own id,
    l{k+1} = least(own, min over neighbors of l{k}). Matches the Spark
    fixpoint whenever component diameter <= iters (gate corpora are
    shallow; the Spark side converges to the same fixpoint).

    ``AS MATERIALIZED`` on the pair/edge CTEs is load-bearing: DuckDB
    inlines CTEs by default, which would re-evaluate the whole upstream
    candidate pipeline in every closure round."""
    return (
        ", ".join(_closure_ctes(pairs_cte, iters))
        + f" SELECT id, label AS group_id FROM l{iters}"
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup over the planted-dup corpus so the drop path actually
    fires: each (id, id+100k) pair sits at cos≈0.989; the planted twin is
    dropped whenever both land in the same coarse cluster (cross-cluster
    escapes are SemDeDup's documented approximation — deterministic here,
    and replayed exactly by the oracle)."""
    return dedup.semantic_dedup(_planted_dup_corpus(spark, sf_dir))


#: the boilerplate line planted into every document by _multiline_corpus —
#: line-level dedup must keep it only in its first occurrence
_BOILER_LINE = "subscribe to our newsletter for more updates and follow us on social media"


def _multiline_corpus(spark, sf_dir):
    """documents rewritten as three newline-joined lines — an 80-char
    prefix, a boilerplate line shared by EVERY document, and the tail —
    so the line-dedup drop path fires corpus-wide. The construction is
    pure string arithmetic reproduced verbatim in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring(F.col("text"), 1, 80),
            F.lit(_BOILER_LINE),
            F.expr("substring(text, 81)"),
        ).alias("text"),
    )


def q_dedup_lines(spark, sf_dir):
    """C4-style corpus-wide line dedup: each distinct line survives only
    at its first (doc_id, position) occurrence; documents reassemble from
    surviving lines. On the planted corpus the shared boilerplate line
    must survive in exactly one document."""
    return dedup.remove_duplicate_lines(_multiline_corpus(spark, sf_dir), min_chars=5)


def q_dedup_spans(spark, sf_dir):
    """Suffix-array-style exact duplicated-span removal (Lee et al., ACL
    2022): every 8-token window occurring more than once corpus-wide is
    cut everywhere except its globally-first (doc_id, pos) occurrence;
    documents reassemble from surviving tokens."""
    return dedup.dedup_spans(load_table(spark, sf_dir, "documents"), k=8)


def q_dedup_within_doc(spark, sf_dir):
    """Intra-document repeated-segment removal on a corpus with a planted
    duplicated paragraph: text rebuilt as prefix / boiler / boiler / tail,
    so every document must drop exactly one segment (plus any incidental
    repeats among prefix/tail). Shuffle-free per-row lambda filter."""
    docs = load_table(spark, sf_dir, "documents")
    # coalesce(text, ''): Spark's concat_ws SKIPS nulls while SQL '||'
    # nullifies the whole string — a null-text doc would silently build
    # different fixtures in the two engines
    planted = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring(F.coalesce(F.col("text"), F.lit("")), 1, 80),
            F.lit(_BOILER_LINE),
            F.lit(_BOILER_LINE),
            F.expr("substring(coalesce(text, ''), 81)"),
        ).alias("text"),
    )
    return dedup.dedup_within_doc(planted)


def q_docs_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty (memorization/boilerplate signal):
    fraction of a doc's distinct 3-gram shingles appearing in no other
    doc, as integer parts-per-million. See dedup.ngram_novelty for the
    one-shuffle-per-key plan shape."""
    from apache_cassandra_spark.analytics.dedup import ngram_novelty

    docs = load_table(spark, sf_dir, "documents")
    return ngram_novelty(docs, n=3)


def q_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup (dedup.dedup_against_reference): today's
    batch (all docs + 50 re-labeled copies planted as within-batch dups)
    against a reference corpus (every 5th doc). Ref-duplicated content is
    dropped by an anti-join on the content hash (no broadcast — the ref
    hash set is corpus-cardinality), then the batch dedups itself with
    the min-id winner rule."""
    from apache_cassandra_spark.analytics.dedup import dedup_against_reference

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.where(F.col("doc_id") % 5 == 0)
    batch = docs.unionByName(
        docs.where(F.col("doc_id") < 50).select(
            (F.col("doc_id") + 100000).alias("doc_id"), "text"
        )
    )
    return dedup_against_reference(batch, ref).select("doc_id", "content_hash")


_DOC_SHINGLES = """
toks AS (SELECT doc_id AS id, list_filter(string_split(lower(text),' '), x -> x <> '') AS t FROM documents),
sh AS (SELECT id, unnest(list_transform(generate_series(1, greatest(len(t)-2, 0)),
                                        i -> array_to_string(t[i:i+2], ' '))) AS shingle FROM toks),
shd AS (SELECT DISTINCT id, shingle FROM sh)
"""


def _jaccard_oracle_sql(threshold: float) -> str:
    """One body for every Jaccard-pair oracle (naive gate at 0.5,
    prefix-filter gate at 0.8): parameterizing the threshold keeps the
    'lossless twin' gates testing the SAME semantics by construction —
    a fix to the shared shingle/pair/round logic cannot reach one copy
    and miss the other."""
    return f"""
        WITH {_DOC_SHINGLES},
        sizes AS (SELECT id, count(*) AS n FROM shd GROUP BY id),
        pairs AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
                  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.id < b.id GROUP BY 1, 2)
        SELECT id_a, id_b, round(c / (sa.n + sb.n - c), 6) AS jaccard
        FROM pairs JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
        WHERE round(c / (sa.n + sb.n - c), 6) >= {threshold}
    """


def _mutual_knn_edges(spark, sf_dir):
    """Shared gate graph for the k-core / coreness twins: edges connect
    vectors (fixed 500-vector universe) that are mutually in each
    other's exact top-8 cosine neighborhoods — the standard
    density-invariant semantic graph (mutual-kNN density does not drift
    with corpus size the way an absolute cosine threshold does). The
    exact brute-force kNN is the small-sf baseline; production edge
    lists come from the banded/bucketed candidate generators
    (ann_lsh_topk / ivf buckets) and both graph ops are agnostic to the
    edge source."""
    from apache_cassandra_spark.analytics.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    # the 500-vector universe arrives as ONE parquet split, which would
    # run the entire 500x500 brute-force scoring in a single task —
    # spread restores scan-width parallelism (r14; see cosine_topk)
    knn = cosine_topk(
        emb, emb, k=8, spread=spark.sparkContext.defaultParallelism
    ).select("query_id", "neighbor_id")
    rev = knn.select(
        F.col("neighbor_id").alias("query_id"), F.col("query_id").alias("neighbor_id")
    )
    return (
        knn.join(rev, ["query_id", "neighbor_id"], "left_semi")
        .where(F.col("query_id") < F.col("neighbor_id"))
        .select(F.col("query_id").alias("src"), F.col("neighbor_id").alias("dst"))
        # cut lineage here: the symmetrize union downstream would
        # otherwise re-execute the all-pairs knn scoring per branch
        .localCheckpoint(eager=True)
    )


def q_docs_kcore(spark, sf_dir):
    """4-core of the mutual-kNN document-embedding graph
    (graph.k_core, rounds=6 bounded replay): the 4-core keeps the dense
    semantic kernels (template families, topic cores) and peels off
    chain-connected periphery. Bounded rounds=6 replays identically in
    the unrolled oracle CTE chain; the peel converges in <=4 rounds on
    this graph, and peel monotonicity makes extra rounds no-ops. Graph
    build shared with docs_coreness via _mutual_knn_edges."""
    from apache_cassandra_spark.analytics.graph import k_core

    mutual = _mutual_knn_edges(spark, sf_dir)
    return k_core(mutual, k=4, rounds=6).select(
        F.col("node").cast("long").alias("node"), "degree"
    )


def q_docs_coreness(spark, sf_dir):
    """Full coreness decomposition of the same mutual-kNN graph
    (graph.coreness, rounds=6 bounded replay): every node's core
    number via PODC'11 h-index refinement — estimates start at degree,
    each round become the h-index of the neighbors' estimates, and only
    ever decrease. Bounded replay is the gate mode because convergence
    is O(diameter) on the kNN periphery's chains (measured: 14+ rounds
    at gate sf) while 6 rounds already fix the dense kernels; both
    engines run the SAME 6 rounds so the gate is exact regardless —
    the cluster_inertia Lloyd-unroll discipline. Integer-only
    arithmetic, engine-exact."""
    from apache_cassandra_spark.analytics.graph import coreness

    mutual = _mutual_knn_edges(spark, sf_dir)
    return coreness(mutual, rounds=6).select(
        F.col("node").cast("long").alias("node"), "coreness"
    )


# same knn CTE discipline as sim_topk (round-6 cosine + id tie-break,
# proven hash-exact); the peel is unrolled to the same 6 bounded rounds
# the Spark side runs — each round = survivors with degree >= 4, then
# edges restricted to survivors on both endpoints. Every level is AS
# MATERIALIZED: DuckDB inlines plain CTEs, and each level references the
# previous one three times (FROM + the two survivor joins), so an
# inlined unroll re-expands the all-pairs knn 3^6 times and never
# finishes — materialization makes the chain linear.
_KCORE_PEEL = "\n".join(
    f"""    k{r} AS MATERIALIZED (SELECT a AS node FROM e{r - 1} GROUP BY a HAVING count(*) >= 4),
    e{r} AS MATERIALIZED (SELECT e.a, e.b FROM e{r - 1} e
             JOIN k{r} x ON e.a = x.node JOIN k{r} y ON e.b = y.node),"""
    for r in range(1, 7)
)


# shared CTE prefix for the k-core / coreness twins: the exact mutual-kNN
# edge build, symmetrized as e0 (one row per direction)
_MUTUAL_KNN_SQL = """
    WITH u AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
    knn AS MATERIALIZED (
        SELECT q.vec_id AS qa, c.vec_id AS qb,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC,
                          c.vec_id) AS rk
        FROM u q, u c WHERE c.vec_id <> q.vec_id),
    top8 AS MATERIALIZED (SELECT qa, qb FROM knn WHERE rk <= 8),
    mutual AS MATERIALIZED (SELECT k1.qa AS lo, k1.qb AS hi FROM top8 k1
               JOIN top8 k2 ON k1.qa = k2.qb AND k1.qb = k2.qa
               WHERE k1.qa < k1.qb),
    e0 AS MATERIALIZED (SELECT lo AS a, hi AS b FROM mutual
           UNION ALL SELECT hi AS a, lo AS b FROM mutual),"""


# h-index refinement unroll (graph.coreness, rounds=6): c0 = degree;
# c{{r}}(node) = max over its adjacency, sorted by neighbor estimate
# descending, of least(position, neighbor estimate) — the h-index.
# Tie order among equal estimates cannot change the h-index (equal
# values at swapped positions give the same max), but the unroll still
# mirrors the engine's (nc DESC, b ASC) order for reviewability. Each
# level references the previous once; AS MATERIALIZED keeps DuckDB's
# CTE inlining from re-expanding the kNN build per level.
_CORENESS_REFINE = "\n".join(
    f"""    c{r} AS MATERIALIZED (
        SELECT a AS node, cast(max(least(rn, nc)) as bigint) AS c FROM (
            SELECT s.a, s.b, p.c AS nc,
                   row_number() OVER (PARTITION BY s.a ORDER BY p.c DESC, s.b) AS rn
            FROM e0 s JOIN c{r - 1} p ON s.b = p.node) t
        GROUP BY a),"""
    for r in range(1, 7)
)


#: the DuckDB SQL each exactly-checked builder above must match
ORACLES: dict[str, str] = {}
ORACLES["dedup_exact"] = """
        SELECT md5(text) AS content_hash, min(doc_id) AS keeper_id, count(*) AS n_docs
        FROM documents GROUP BY 1
    """
ORACLES["dedup_ngram_jaccard"] = _jaccard_oracle_sql(0.5)
# prefix filtering is lossless (see q_dedup_prefix_jaccard): the gate runs
# the PPJoin plan against the naive all-pairs oracle at the operator's
# home threshold (0.8) and must agree exactly
ORACLES["dedup_prefix_jaccard"] = _jaccard_oracle_sql(0.8)
# containment semantics (one oracle, one gate since the r11 retirement
# of the naive twin): the prefix-filtered plan IS the gated plan; the
# naive ngram_containment_pairs stays fuzz-locked equivalent in
# tests/test_prefix_jaccard.py
ORACLES["dedup_prefix_containment"] = f"""
        WITH {_DOC_SHINGLES},
        sizes AS (SELECT id, count(*) AS n FROM shd GROUP BY id),
        pairs AS (SELECT a.id AS id_src, b.id AS id_dst, count(*) AS c
                  FROM shd a JOIN shd b ON a.shingle = b.shingle AND a.id <> b.id
                  GROUP BY 1, 2)
        SELECT id_src, id_dst, round(c / s.n, 6) AS containment
        FROM pairs JOIN sizes s ON id_src = s.id
        WHERE round(c / s.n, 6) >= 0.8
    """
# minhash: one md5 -> 31-bit base, perm p = (h*(2p+1) + p*p+7) mod 2^31-1
# (same arithmetic as analytics/dedup._perm_hash); min over the raw
# shingle stream (duplicates don't affect min)
ORACLES["dedup_minhash_lsh"] = f"""
        WITH {_DOC_SHINGLES},
        based AS (SELECT id, ('0x' || substr(md5('mh:' || shingle), 1, 15))::bigint % 2147483647 AS h
                  FROM sh),
        perms AS (SELECT unnest(generate_series(0, 15)) AS p),
        hashed AS (SELECT id, p, min((h * (2*p + 1) + p*p + 7) % 2147483647) AS mh
                   FROM based, perms GROUP BY id, p),
        banded AS (SELECT id, p // 4 AS band,
                          md5(string_agg(lpad(cast(p as varchar), 2, '0') || ':' || cast(mh as varchar), ','
                              ORDER BY lpad(cast(p as varchar), 2, '0') || ':' || cast(mh as varchar))) AS bucket
                   FROM hashed GROUP BY id, p // 4)
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM banded a JOIN banded b ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    """
ORACLES["dedup_simhash"] = """
        WITH toks AS (SELECT doc_id AS id, unnest(list_filter(string_split(lower(text),' '), x -> x <> '')) AS tok
                      FROM documents),
        th AS (SELECT id, ('0x' || substr(md5('simhash:' || tok), 1, 15))::bigint AS h FROM toks),
        bits AS (SELECT unnest(generate_series(0, 59)) AS bit),
        votes AS (SELECT id, bit, sum(((h // (1::BIGINT << bit)) % 2) * 2 - 1) AS vote
                  FROM th, bits GROUP BY id, bit)
        SELECT id AS doc_id,
               cast(sum(CASE WHEN vote > 0 THEN (1::BIGINT << bit) ELSE 0 END) as varchar) AS simhash
        FROM votes GROUP BY id
    """
ORACLES["dedup_embedding"] = """
        WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pert AS (
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(generate_series(1, 64), i -> v[i] + 0.15 * r[i]) AS v
          FROM (SELECT vec_id, v, list_concat(v[2:], v[1:1]) AS r FROM base)),
        corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.v, b.v), 6) AS cos
        FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
        WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95
    """
ORACLES["dedup_embedding_exact"] = """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
        FROM embeddings a, embeddings b
        WHERE a.vec_id < b.vec_id
          AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35
    """
# transitive closure over the minhash candidate pairs (same pairs CTE as
# dedup_minhash_lsh, then 8 fixed min-label rounds)
ORACLES["dedup_groups_star"] = "WITH " + _min_label_closure_sql(ORACLES["dedup_minhash_lsh"])
ORACLES["semantic_dedup"] = """
        WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        pert AS (
          SELECT vec_id + 100000 AS vec_id,
                 list_transform(generate_series(1, 64), i -> v[i] + 0.15 * r[i]) AS v
          FROM (SELECT vec_id, v, list_concat(v[2:], v[1:1]) AS r FROM base)),
        corpus AS (SELECT * FROM base UNION ALL SELECT * FROM pert),
        cents AS (
          SELECT vec_id AS cent_id, v AS cent
          FROM corpus ORDER BY md5(cast(vec_id as varchar)), vec_id LIMIT 16),
        assigned AS (
          SELECT vec_id, v, cent_id AS cluster FROM (
            SELECT e.vec_id, e.v, c.cent_id,
                   row_number() OVER (PARTITION BY e.vec_id
                     ORDER BY round(list_cosine_similarity(e.v, c.cent), 6) DESC,
                              c.cent_id) AS r
            FROM corpus e, cents c) t
          WHERE r = 1),
        dropped AS (
          SELECT DISTINCT a.vec_id
          FROM assigned a JOIN assigned b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
          WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.95)
        SELECT a.vec_id, cast(a.cluster as bigint) AS cluster
        FROM assigned a
        WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
    """
# same planted 3-line corpus as q_dedup_lines (_multiline_corpus);
# winner of each distinct line = smallest (doc, pos); short lines
# (< 5 chars, e.g. the empty tail of short docs) are kept everywhere
ORACLES["dedup_lines"] = f"""
        WITH corpus AS (SELECT doc_id,
                               substr(text, 1, 80) || chr(10) || '{_BOILER_LINE}'
                               || chr(10) || substr(text, 81) AS text
                        FROM documents),
        parts AS (SELECT doc_id, string_split(text, chr(10)) AS p FROM corpus),
        lines AS (SELECT doc_id AS id, struct_extract(r, 'pos') AS pos,
                         struct_extract(r, 'line') AS line
                  FROM (SELECT doc_id,
                               unnest(list_transform(generate_series(1, len(p)),
                                      i -> {{'pos': i, 'line': p[i]}})) AS r
                        FROM parts)),
        ranked AS (SELECT id, pos, line,
                          row_number() OVER (PARTITION BY line ORDER BY id, pos) AS rn,
                          length(line) >= 5 AS elig
                   FROM lines),
        keep AS (SELECT id, pos, line FROM ranked WHERE NOT elig OR rn = 1)
        SELECT id AS doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
        FROM keep GROUP BY id
    """
# exact duplicated-8-gram removal, winner = smallest (doc_id, pos);
# windows compared as literal token strings (space-join is injective
# over space-split tokens) — mirrors dedup.dedup_spans exactly
ORACLES["dedup_spans"] = """
        WITH docs AS (
            SELECT doc_id, list_filter(string_split(coalesce(text, ''), ' '), t -> t <> '') AS toks
            FROM documents
        ),
        toks AS (
            SELECT doc_id, i AS pos, toks[i+1] AS tok
            FROM docs, UNNEST(range(len(toks))) u(i)
        ),
        grams AS (
            SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+8], ' ') AS gram,
                   doc_id * 2097152 + i AS pk
            FROM docs, UNNEST(range(len(toks) - 8 + 1)) u(i)
            WHERE len(toks) >= 8
        ),
        winners AS (SELECT gram, min(pk) AS first_pk, count(*) AS occ FROM grams GROUP BY gram),
        cut AS (
            SELECT DISTINCT g.doc_id, g.pos + o AS pos
            FROM grams g JOIN winners w ON g.gram = w.gram, UNNEST(range(8)) uu(o)
            WHERE w.occ > 1 AND g.pk <> w.first_pk
        ),
        kept AS (
            SELECT t.doc_id, t.pos, t.tok
            FROM toks t ANTI JOIN cut c ON t.doc_id = c.doc_id AND t.pos = c.pos
        ),
        rebuilt AS (
            SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text, count(*) AS n_kept
            FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(r.text, '') AS text,
               cast(len(d.toks) as bigint) AS n_tokens,
               cast(len(d.toks) - coalesce(r.n_kept, 0) as bigint) AS n_removed
        FROM docs d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
    """
# within-doc first-occurrence segment filter via the index lambda;
# list_position = first 1-based index, i is 1-based in duckdb lambdas
ORACLES["dedup_within_doc"] = f"""
        WITH corpus AS (SELECT doc_id,
                               substr(coalesce(text, ''), 1, 80) || chr(10) || '{_BOILER_LINE}'
                               || chr(10) || '{_BOILER_LINE}'
                               || chr(10) || substr(coalesce(text, ''), 81) AS text
                        FROM documents),
        parts AS (SELECT doc_id, string_split(text, chr(10)) AS p FROM corpus),
        dd AS (SELECT doc_id, p,
                      list_filter(p, (x, i) -> list_position(p, x) = i) AS kept
               FROM parts)
        SELECT doc_id,
               array_to_string(kept, chr(10)) AS text,
               cast(len(p) as bigint) AS n_segments,
               cast(len(p) - len(kept) as bigint) AS n_dropped
        FROM dd
    """
ORACLES["docs_ngram_novelty"] = f"""
        WITH {_DOC_SHINGLES},
        freq AS (SELECT shingle, count(*) AS df FROM shd GROUP BY shingle),
        per AS (SELECT id, count(*) AS n_shingles,
                       cast(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) as bigint) AS n_unique
                FROM shd JOIN freq USING (shingle) GROUP BY id)
        SELECT id AS doc_id, n_shingles, n_unique,
               (1000000 * n_unique) // n_shingles AS novelty_ppm
        FROM per
    """
ORACLES["dedup_incremental"] = """
    WITH batch AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id < 50),
    ref_hashes AS (SELECT DISTINCT md5(text) AS content_hash
                   FROM documents WHERE doc_id % 5 = 0),
    fresh AS (SELECT b.doc_id, md5(b.text) AS content_hash FROM batch b
              -- NOT EXISTS, not NOT IN: left_anti keeps NULL-keyed rows
              -- (NULL never equi-matches) while NOT IN would go NULL and
              -- drop them -- and one NULL reference hash would empty the
              -- whole batch. NOT EXISTS matches Spark's semantics exactly.
              WHERE NOT EXISTS (SELECT 1 FROM ref_hashes r
                                WHERE r.content_hash = md5(b.text))),
    keep AS (SELECT min(doc_id) AS doc_id FROM fresh GROUP BY content_hash)
    SELECT f.doc_id, f.content_hash FROM fresh f
    WHERE f.doc_id IN (SELECT doc_id FROM keep)
"""
ORACLES["docs_kcore"] = f"""{_MUTUAL_KNN_SQL}
{_KCORE_PEEL}
    fin AS (SELECT * FROM e6)
    SELECT cast(a as bigint) AS node, cast(count(*) as bigint) AS degree
    FROM fin GROUP BY a
"""
ORACLES["docs_coreness"] = f"""{_MUTUAL_KNN_SQL}
    c0 AS MATERIALIZED (SELECT a AS node, cast(count(*) as bigint) AS c
                        FROM e0 GROUP BY a),
{_CORENESS_REFINE}
    fin AS (SELECT * FROM c6)
    SELECT cast(node as bigint) AS node, c AS coreness FROM fin
"""
