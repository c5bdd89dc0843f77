"""Self-enforcing audit of every forced broadcast in the package.

The engine's scale rule — learned three times over (round-5 dedup
``sizes``, round-6 reconcile watermarks, round-7 tfidf ``docfreq``) — is:
**no unconditional broadcast of an unbounded-cardinality table
anywhere**. A forced ``F.broadcast`` hint bypasses AQE's size check, so
a table whose cardinality grows with the corpus (per-document, per-term,
per-key) OOMs the driver at 100 TB no matter how small it is at test SF.

Manual per-round audits missed the tfidf site twice, so the rule now
enforces itself: this test AST-walks the whole package, finds every
``F.broadcast(...)`` call site, and asserts the (module, argument)
multiset matches the allowlist below EXACTLY. Each allowlist entry
documents why the broadcast side is bounded. Adding a new
``F.broadcast`` without registering a bound here fails the suite, as
does leaving a stale entry behind after removing one.

Flag-gated sites (the ``if broadcast_x: df = F.broadcast(df)`` pattern)
are allowlisted as such — the caller owns the bound and can turn the
hint off, which is the required escape hatch for corpus-growing sides.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "apache_cassandra_spark"

# (module relpath, broadcast argument source) -> (count, documented bound)
ALLOWLIST: dict[tuple[str, str], tuple[int, str]] = {
    ("analytics/similarity.py", "q"): (
        4,
        "query/seed set: bounded by the caller's request, documented "
        "seed-set-broadcast semantic with a bucketed alternative "
        "(cosine_topk, ann_lsh_topk, quantized_cosine_topk, range_search)",
    ),
    ("analytics/similarity.py", "cn"): (2, "k centroid rows (k ~ 10^2..10^4)"),
    ("analytics/similarity.py", "cents"): (1, "k centroid rows"),
    ("analytics/similarity.py", "probes"): (
        2,
        "queries x k_probe rows: request-bounded",
    ),
    ("analytics/dedup.py", "cents"): (1, "k centroid rows"),
    ("analytics/graph.py", "mx"): (1, "1-row global max"),
    ("analytics/pipeline.py", "ev"): (
        2,
        "flag-gated (broadcast_eval): eval-set n-grams, caller-bounded; "
        "False -> AQE-decided",
    ),
    ("analytics/pipeline.py", "rates"): (1, "one row per stratum"),
    ("analytics/pipeline.py", "lam"): (
        1,
        "flag-gated (broadcast_lambdas): DSIR lambda table, <= `buckets` "
        "rows by construction (parameter-bounded, default 2^10, NOT "
        "corpus-growing); False -> AQE-decided",
    ),
    ("analytics/pipeline.py", "bl"): (
        1,
        "flag-gated (broadcast): blocklist ~10s of MB by contract; "
        "False -> AQE-decided anti-join",
    ),
    ("analytics/text.py", "n_docs"): (1, "1-row corpus count"),
    ("analytics/text.py", "total"): (2, "1-row token total"),
    ("analytics/text.py", "qt"): (
        1,
        "BM25 (query_id, term) set: bounded by the caller's query list "
        "(request-bounded, like similarity's seed sets)",
    ),
    ("analytics/text.py", "qterms"): (
        1,
        "BM25 distinct query terms (subset of qt): request-bounded",
    ),
    ("analytics/text.py", "tot"): (1, "1-row (n_docs, total_dl) totals"),
    ("analytics/text.py", "scored_vocab"): (
        1,
        "flag-gated (broadcast_vocab): vocabulary table, caller owns bound",
    ),
    ("analytics/text.py", "scored"): (
        1,
        "flag-gated (broadcast_model): bigram model table, caller owns bound",
    ),
    ("operators/read.py", "keys"): (1, "multiget request key list"),
    ("gates/tpch.py", "n"): (2, "TPC-H nation dim: 25 rows"),
    ("gates/tpch.py", "r"): (1, "TPC-H region dim: 5 rows"),
}


def _broadcast_sites() -> Counter:
    """Every ``<anything>.broadcast(...)`` call in the package —
    receiver-agnostic, so ``from pyspark.sql import functions as sf;
    sf.broadcast(...)`` cannot slip past the audit by aliasing. Any
    receiver other than the canonical ``F`` fails immediately."""
    found: Counter = Counter()
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        if "broadcast(" not in src:
            continue
        tree = ast.parse(src)
        rel = str(path.relative_to(PACKAGE))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
            ):
                recv = ast.get_source_segment(src, node.func.value) or "<?>"
                # sc.broadcast (a SparkContext variable broadcast) would
                # be a different API; the package has none — require the
                # single F.broadcast spelling for everything
                assert recv == "F", (
                    f"{rel}:{node.lineno}: {recv}.broadcast(...) — use "
                    "F.broadcast so the allowlist audit sees one spelling"
                )
                arg = ast.get_source_segment(src, node.args[0]) or "<?>"
                found[(rel, arg)] += 1
    return found


def test_every_forced_broadcast_is_allowlisted_with_a_bound():
    found = _broadcast_sites()
    expected = Counter({k: v[0] for k, v in ALLOWLIST.items()})
    new = found - expected
    assert not new, (
        f"unregistered F.broadcast site(s) {dict(new)} — document the "
        "cardinality bound in tests/test_broadcast_allowlist.py, or drop "
        "the hint and let AQE decide (unbounded tables must NOT be "
        "force-broadcast)"
    )
    stale = expected - found
    assert not stale, (
        f"stale allowlist entr(ies) {dict(stale)} — the site was removed "
        "or renamed; update the allowlist"
    )


def test_no_broadcast_via_other_spellings():
    """The AST walk above only sees ``F.broadcast``; hold the package to
    that single spelling so hint('broadcast') / a bare imported
    ``broadcast`` can't bypass the audit."""
    for path in sorted(PACKAGE.rglob("*.py")):
        src = path.read_text()
        tree = ast.parse(src)
        rel = str(path.relative_to(PACKAGE))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                if (
                    isinstance(node.func, ast.Name)
                    and node.func.id == "broadcast"
                ):
                    raise AssertionError(
                        f"{rel}: bare broadcast() call — use F.broadcast so "
                        "the allowlist audit sees it"
                    )
                if (
                    isinstance(node.func, ast.Attribute)
                    and node.func.attr == "hint"
                ):
                    # the package uses NO .hint() at all: a constant
                    # broadcast strategy would bypass the audit, and a
                    # non-constant strategy can't be audited statically
                    # — ban the whole method rather than pattern-match
                    raise AssertionError(
                        f"{rel}:{node.lineno}: .hint(...) — the package "
                        "bans join hints outside F.broadcast so the "
                        "allowlist audit can see every forced strategy"
                    )
