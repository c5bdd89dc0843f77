"""Partitioner token expressions.

The reference's partitioner decides row placement and the iteration order of
range scans (``dht/*.java``). In the Spark engine a partitioner is just a
deterministic token *expression* over the key column — used (a) as the sort
order for ``get_range_slices`` paging and (b) as the repartition /
bucketing expression for the backing table.

Divergence note (deliberate): ``RandomPartitioner`` in the reference maps
md5 -> abs(BigInteger) (``dht/RandomPartitioner.java:35-44``). We use the
md5 **hex string** — its lexicographic order is the unsigned-128-bit
numeric order, giving the same properties (uniform, unordered keys, stable
scan paging) while staying a built-in JVM expression replicable in ANSI SQL
(oracle parity).
"""

from __future__ import annotations

import functools
import operator
from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F


class Partitioner:
    name = "RandomPartitioner"
    #: True when token order == key order (meaningful key-range queries)
    order_preserving = False

    def token(self, key: Column) -> Column:
        return F.md5(key)

    def token_of(self, key: str) -> str:
        """Driver-side token for a literal key (for paging bookmarks)."""
        import hashlib

        return hashlib.md5(key.encode()).hexdigest()


class RandomPartitioner(Partitioner):
    """md5-derived token; keys unordered (``dht/RandomPartitioner.java``)."""


class OrderPreservingPartitioner(Partitioner):
    """Token == key (``dht/OrderPreservingPartitioner.java``)."""

    name = "OrderPreservingPartitioner"
    order_preserving = True

    def token(self, key: Column) -> Column:
        return key

    def token_of(self, key: str) -> str:
        return key


class CollatingOrderPreservingPartitioner(OrderPreservingPartitioner):
    """en_US-collated key order (``dht/CollatingOrderPreservingPartitioner.java:31``:
    token = ``Collator.getInstance(en_US)`` collation key). Model of the
    collator for ASCII keys: punctuation is primary-ignorable, so
    ``'-a'`` sorts WITH ``'a'`` (just after it), not before ``'0'`` —
    the "collated ordering rather than ascii" the reference pins in
    ``test/system/test_server.py:791-799`` (test_range_collation). Token
    = primary key (case-folded alphanumerics, punctuation stripped) +
    NUL + tertiary tiebreak (punctuation replaced by a high sentinel, so
    a bare key sorts before its punctuated variants). Full ICU weights
    (accents, locale tailorings) are out of scope — the ASCII subset is
    what the reference's own tests exercise."""

    name = "CollatingOrderPreservingPartitioner"

    def token(self, key: Column) -> Column:
        primary = F.lower(F.regexp_replace(key, "[^0-9A-Za-z]+", ""))
        tie = F.regexp_replace(key, "[^0-9A-Za-z]", "￿")
        return F.concat(primary, F.lit("\x00"), tie)

    def token_of(self, key: str) -> str:
        import re

        primary = re.sub(r"[^0-9A-Za-z]+", "", key).lower()
        tie = re.sub(r"[^0-9A-Za-z]", "￿", key)
        return primary + "\x00" + tie


class OdklDomainPartitioner(Partitioner):
    """Fork partitioner (``dht/OdklDomainPartitioner.java:36-98``): the token
    is the key's last two hex chars (the "domain", 256 of them) moved to the
    front — so one logical CF shards into 256 domain-contiguous ranges."""

    name = "OdklDomainPartitioner"
    order_preserving = True  # within a domain

    def token(self, key: Column) -> Column:
        n = F.length(key)
        return F.when(n < 2, F.lpad(key, 2, "0")).otherwise(
            F.concat(F.lower(F.substring(key, -2, 2)), F.substring(key, F.lit(1), n - 2))
        )

    def token_of(self, key: str) -> str:
        if len(key) < 2:
            return key.rjust(2, "0")
        return key[-2:].lower() + key[:-2]

    def domain(self, key: Column) -> Column:
        return F.when(F.length(key) < 2, F.lpad(key, 2, "0")).otherwise(F.lower(F.substring(key, -2, 2)))

    def domain_of(self, key: str) -> str:
        """Driver-side domain of a literal key (for partition pruning)."""
        if len(key) < 2:
            return key.rjust(2, "0")
        return key[-2:].lower()


@dataclass(frozen=True)
class TokenWindow:
    """The ring window a ``KeyRange`` addresses, in token space
    (``cassandra.thrift:233-246``, ``StorageProxy.java:805-864``). A
    token is a Column (the Spark plan) or a str (the driver): both take
    the same comparisons, so these rules exist once."""

    start: str | None = None
    end: str | None = None
    start_inclusive: bool = False
    #: the window runs (start, max] then (min, end]: ring order from start
    wraps: bool = False

    def contains(self, t):
        """``t`` lies in the window; None when every token does."""
        if self.wraps:
            return None if self.start == self.end else (t > self.start) | (t <= self.end)
        preds = []
        if self.start is not None:
            preds.append(t >= self.start if self.start_inclusive else t > self.start)
        if self.end is not None:
            preds.append(t <= self.end)
        return functools.reduce(operator.and_, preds) if preds else None

    def past_wrap(self, t):
        """The ring-order flag: true once the walk from ``start`` has
        wrapped (``t <= start``), so those tokens come last; None when the
        window does not wrap."""
        return t <= self.start if self.wraps else None


def token_window(partitioner: Partitioner, key_range) -> TokenWindow:
    """``key_range`` as a ``TokenWindow``: key bounds are inclusive
    (``Bounds``) and compared as tokens; a token start is exclusive and a
    token end inclusive (``Range``); an empty bound is open; a token start
    at or past the end wraps the ring, and equal tokens are the whole ring
    starting just past them."""
    if key_range.start_key is not None or key_range.end_key is not None:
        lo, hi = (partitioner.token_of(k) if k else None for k in (key_range.start_key, key_range.end_key))
        return TokenWindow(lo, hi, start_inclusive=True)
    lo, hi = key_range.start_token or None, key_range.end_token or None
    return TokenWindow(lo, hi, wraps=lo is not None and hi is not None and lo >= hi)


_PARTITIONERS = {
    p.name: p
    for p in (
        RandomPartitioner(),
        OrderPreservingPartitioner(),
        CollatingOrderPreservingPartitioner(),
        OdklDomainPartitioner(),
    )
}


def get_partitioner(name: str) -> Partitioner:
    short = name.rsplit(".", 1)[-1]
    try:
        return _PARTITIONERS[short]
    except KeyError:
        raise KeyError(f"unknown partitioner {name!r}; known: {sorted(_PARTITIONERS)}") from None
