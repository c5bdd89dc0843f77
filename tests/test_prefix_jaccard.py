"""Prefix-filtered Jaccard join (dedup.prefix_jaccard_pairs): losslessness
against the naive inverted-index operator on adversarial synthetic corpora
(threshold-boundary pairs, shared-boilerplate skew, singleton shingles) and
the candidate-reduction property the prefix exists for."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from apache_cassandra_spark.analytics.dedup import (
    ngram_jaccard_pairs,
    prefix_jaccard_pairs,
)

# small word pool → dense overlap structure, lots of near-threshold pairs
WORDS = ["alpha", "beta", "gamma", "delta", "epsi", "zeta", "eta", "theta"]


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )


def _pairs(df):
    return sorted((r["id_a"], r["id_b"], r["jaccard"]) for r in df.collect())


def test_boundary_pair_exactly_at_threshold(spark):
    # trigram sets: A = {a b c, b c d}, B = {a b c, b c d, c d e, d e f}
    # J = 2/4 = 0.5 — must be kept at t=0.5 by both operators
    docs = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma delta epsi zeta"])
    naive = _pairs(ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=None))
    pref = _pairs(prefix_jaccard_pairs(docs, threshold=0.5))
    assert naive == pref == [(0, 1, 0.5)]


def test_exact_duplicates_and_disjoint(spark):
    docs = _docs(
        spark,
        ["alpha beta gamma delta", "alpha beta gamma delta", "zeta eta theta epsi"],
    )
    naive = _pairs(ngram_jaccard_pairs(docs, threshold=0.5, max_doc_freq=None))
    pref = _pairs(prefix_jaccard_pairs(docs, threshold=0.5))
    assert naive == pref == [(0, 1, 1.0)]


def test_skew_guard_parity(spark):
    # with a doc-freq cap both operators drop the same hot shingles and
    # must still agree (the theorem holds on the guarded universe)
    texts = ["alpha beta gamma " + w for w in ("delta", "epsi", "zeta", "eta")]
    docs = _docs(spark, texts)
    naive = _pairs(ngram_jaccard_pairs(docs, threshold=0.3, max_doc_freq=3))
    pref = _pairs(prefix_jaccard_pairs(docs, threshold=0.3, max_doc_freq=3))
    assert naive == pref


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=3, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.3, 0.5, 0.7, 0.9]),
)
def test_fuzz_lossless_vs_naive(spark, texts, threshold):
    docs = _docs(spark, texts)
    naive = _pairs(ngram_jaccard_pairs(docs, threshold=threshold, max_doc_freq=None))
    pref = _pairs(prefix_jaccard_pairs(docs, threshold=threshold))
    assert naive == pref


def test_no_forced_hint_no_cartesian(spark):
    """Candidate and verification joins are equi-joins with no forced
    broadcast (doc-freq and sizes are corpus-cardinality tables — the
    same no-unconditional-broadcast rule as the reconcile watermark
    fix); nothing in the plan is a cartesian product."""
    docs = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma epsi zeta"])
    out = prefix_jaccard_pairs(docs, threshold=0.5)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in analyzed
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final


# ---------------------------------------------------------------------------
# directed containment twin
# ---------------------------------------------------------------------------

from apache_cassandra_spark.analytics.dedup import (  # noqa: E402
    ngram_containment_pairs,
    prefix_containment_pairs,
)


def _dpairs(df):
    return sorted((r["id_src"], r["id_dst"], r["containment"]) for r in df.collect())


def test_containment_asymmetry_and_boundary(spark):
    # A's trigrams all inside B (c(A→B)=1.0) while B is much larger
    # (c(B→A) small): only the A→B direction appears at t=0.8
    docs = _docs(
        spark,
        [
            "alpha beta gamma delta",
            "alpha beta gamma delta epsi zeta eta theta alpha zeta beta eta",
        ],
    )
    naive = _dpairs(ngram_containment_pairs(docs, threshold=0.8, max_doc_freq=None))
    pref = _dpairs(prefix_containment_pairs(docs, threshold=0.8))
    assert naive == pref
    assert (0, 1, 1.0) in pref and all(src != 1 for src, _, _ in pref)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.lists(st.sampled_from(WORDS), min_size=3, max_size=10).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    threshold=st.sampled_from([0.4, 0.7, 0.9]),
)
def test_fuzz_containment_lossless_vs_naive(spark, texts, threshold):
    docs = _docs(spark, texts)
    naive = _dpairs(
        ngram_containment_pairs(docs, threshold=threshold, max_doc_freq=None)
    )
    pref = _dpairs(prefix_containment_pairs(docs, threshold=threshold))
    assert naive == pref


def test_containment_no_forced_hint_no_cartesian(spark):
    """The π(A) × full-postings candidate join and the verification
    fan-out are equi-joins with no forced hints — same plan discipline
    as the jaccard twin (the full-postings side is corpus-cardinality,
    the shape most at risk of a broadcast regression)."""
    docs = _docs(spark, ["alpha beta gamma delta", "alpha beta gamma epsi zeta"])
    out = prefix_containment_pairs(docs, threshold=0.8)
    assert "ResolvedHint" not in out._jdf.queryExecution().analyzed().toString()
    final = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    assert "CartesianProduct" not in final
    assert "BroadcastNestedLoopJoin" not in final


def test_corpus_equivalence_lock_sf0001(spark):
    """Retirement receipt for the `dedup_ngram_jaccard` driver gate
    (retirement PROPOSED round 14, funding web_plan_frontier — its
    oracle is _jaccard_oracle_sql(0.5), the same generator as the
    windowed dedup_prefix_jaccard gate's _jaccard_oracle_sql(0.8),
    differing only in the threshold literal). The pin is the
    sim_ann_lsh_exact precedent's shape, but CORPUS-WIDE: full-row
    equality (both ids AND the jaccard value) of the plain
    inverted-index join against the gated PPJoin path on the real
    sf0.001 documents table, at BOTH gates' thresholds — so the
    retired gate's operator AND its threshold stay pinned to the
    surviving gate without a ledger slot."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for th in (0.5, 0.8):
        naive = _pairs(ngram_jaccard_pairs(docs, threshold=th))
        pref = _pairs(prefix_jaccard_pairs(docs, threshold=th, max_doc_freq=10_000))
        assert naive == pref, f"threshold {th}: plain != prefix"
        assert naive, f"threshold {th}: lock corpus produced no pairs"
