"""robots.txt (Robots Exclusion Protocol, RFC 9309) — the crawl-policy
half of the front door: which captured URLs a polite pipeline may keep.

A crawl-curation pass joins each page against its domain's robots rules
and keeps the allowed ones (compliance filtering — the same stage real
crawl pipelines run before corpus prep). Everything is DataFrame-native:

- :func:`parse_robots` turns one robots.txt document per domain into
  ``(domain, rule_path, allow, rule_len)`` rows for one user-agent —
  the sequential group grammar (consecutive ``User-agent`` lines share
  the following rule block) is recovered with per-domain windows over
  the line number, so a million robots documents parse as ONE
  shuffle-on-domain plan, no driver-side parsing.
- :func:`match_allowed` joins pages to their domain's rules and applies
  RFC 9309 matching: ``*`` wildcards, ``$`` end anchor,
  longest-rule-wins, Allow wins ties, no-match ⇒ allowed, no robots ⇒
  allowed. Per-domain rule lists are small (tens of rows), so the join
  fans out O(pages × rules-per-domain) and the winner is a
  WindowGroupLimit per page. Matching is LINEAR-TIME by construction
  (greedy segment placement, the reference Google matcher's approach) —
  robots.txt is attacker-controlled input, and compiling rules into
  backtracking regexes lets one hostile ``/*a*a*a*a`` rule wedge an
  executor (r11 advice).

Hostile-input caps (RFC 9309 §2.4 lets parsers enforce limits; 500 KiB
is the de-facto standard): ``parse_robots`` parses at most ``max_bytes``
characters per document (dropping a trailing partial line) and keeps at
most ``max_rules_per_domain`` rules in document order — one adversarial
10 MB robots.txt must not multiply that domain's pages by thousands of
rule rows in the match join.

RFC 9309 nuances implemented: group selection prefers the EXACT
user-agent token over ``*`` (product token match, case-insensitive);
rules outside any group are ignored; an empty ``Disallow:`` value
matches nothing (allows all); only the path+query of the URL is
matched. ``Crawl-delay`` (non-standard but honored by Bing/Yandex-class
crawlers) is surfaced by :func:`crawl_delays` for fetcher politeness.
Percent-encoding equivalence (RFC 9309 §2.2.2: comparison happens on
normalized octets, so rule ``/a%20b`` matches URL ``/a b`` and vice
versa, ``%3a``≡``%3A``, and a rule's literal ``%24``/``%2A`` match a
URL's raw ``$``/``*`` — every §2.2.2 example) is handled by
:func:`_pct_canon_sql`: both sides normalize to one canonical
percent-DECODED space before :func:`_glob_hit_sql`, with the rule's meta
``*`` / trailing-``$`` preserved on sentinels and literal ``*``/``$``
on private code points. Fuzz-locked against an independent Python
model including %-cases.

Reference parity note: the reference fork has no crawl machinery — this
extends the engine for the LLM-pipeline mandate (RFC 9309 is public).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Private-use code points: _SENT_* carry a rule's META '*' and '$'
# through the percent-decode; _LIT_* hold LITERAL '*' and '$' (a URL's
# raw ones, or either side's decoded %2A%24) so _glob_hit_sql never
# reads them as wildcard/anchor. _ESC escapes any PRE-EXISTING occurrence
# of these code points in hostile input (see _protect_private_sql).
_SENT_STAR, _SENT_DOLLAR = "\ue000", "\ue001"
_LIT_STAR, _LIT_DOLLAR = "\ue002", "\ue003"
_ESC = "\ue004"
#: one cheap scan deciding whether _protect_private_sql must run at all \u2014
#: a raw U+E000..U+E004 code point, or a percent-triplet spelling of
#: its UTF-8 (EE 80 80..84, any hex case)
_PRIVATE_HAZARD_RE = "[\ue000-\ue004]|(?i)%EE%80%8[0-4]"


def _sql_lit(s: str) -> str:
    """Single-quoted Spark SQL string literal. The default parser mode
    interprets backslash escapes inside literals, so backslashes double
    — the parsed-back string (and thus the Java regex it becomes) is
    byte-identical to the Python source pattern."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _protect_private_sql(x: str) -> str:
    """Escape pre-existing private-use marker code points so hostile
    bytes cannot fabricate matcher metacharacters (the r13 verdict's
    sentinel-collision edge): robots bytes are attacker-controlled by
    this module's own threat model, and without this an input carrying
    the literal percent-triplets of a sentinel's UTF-8 (``%EE%80%80``\u2026)
    would DECODE INTO the sentinel and be read back as meta ``*`` \u2014
    a forged wildcard.

    Mapping (injective, identical on both sides so cross-side equality
    is preserved): each raw U+E000..U+E004 \u2014 and each percent-triplet
    spelling of its UTF-8, any hex case, replaced BEFORE ``url_decode``
    can conjure the code point \u2014 becomes the pair ``_ESC + digit``.
    ``_ESC`` itself is escaped FIRST (to ``_ESC4``) so the pairs this
    function inserts can never be re-read as escapes. After this, a
    bare sentinel/literal code point in the canonical string can only
    be one the pipeline itself inserted. Fixed-literal replaces only \u2014
    no backtracking risk. Rendered as SQL text for the reason
    :func:`_pct_canon_sql` gives."""
    out = f"regexp_replace({x}, {_sql_lit(_ESC)}, {_sql_lit(_ESC + '4')})"
    for i, ch in enumerate((_SENT_STAR, _SENT_DOLLAR, _LIT_STAR, _LIT_DOLLAR)):
        out = f"regexp_replace({out}, {_sql_lit(ch)}, {_sql_lit(_ESC + str(i))})"
    for i in range(5):
        out = f"regexp_replace({out}, {_sql_lit(f'(?i)%EE%80%8{i}')}, {_sql_lit(_ESC + str(i))})"
    return out


def _pct_canon_sql(s: str, is_rule: bool = False) -> str:
    """Normalize a robots rule path or a URL path+query (a column or
    expression string) to the RFC 9309 §2.2.2 comparison space, so
    percent-encoding differences don't flip policy: a rule ``/a%20b``
    and a captured ``/a b`` (either way around) land on the same octets
    before :func:`_glob_hit_sql`.

    Canonical form = fully percent-DECODED text: every valid triplet
    becomes its character (multi-octet UTF-8 sequences become the code
    point), which makes every RFC 9309 §2.2.2 example hold —
    ``%3a``≡``%3A``, ``%61``≡``a``, a query's raw ``://`` ≡
    ``%3A%2F%2F``, a rule's literal ``%24``/``%2A`` match a URL's raw
    ``$``/``*``. The decoded space is also ALIGNMENT-SAFE: every
    character is one code point, so a rule segment can never false-
    match inside the multi-char encoding of another character (the
    reason an encode-normalized space was rejected: there, rule text
    ``2F`` would match inside the ``%2F`` an encoded slash becomes).

    Metacharacter handling: the RULE's raw ``*``/``$`` ride
    ``_SENT_*`` sentinels through the decode so they stay meta
    (wildcard / anchor); afterwards any remaining ``*``/``$`` on
    EITHER side — a URL's raw ones, or a decoded ``%2A``/``%24`` —
    map to the ``_LIT_*`` code points, equal across sides, invisible
    to the matcher's meta grammar. A string with a malformed triplet
    (``%`` not followed by two hex digits) is compared RAW —
    fail-open to literal comparison, never a task error. Pre-existing
    private-use marker code points — raw U+E000..E004 or their
    percent-triplet spellings (``%EE%80%80``… any hex case) — are
    escaped by :func:`_protect_private_sql` before the decode, so
    hostile robots bytes cannot fabricate meta characters; the escape
    is identical on both sides, preserving cross-side equality.

    Wholly JVM-side: a validity rlike, ONE ``url_decode`` (raw ``+``
    is pre-escaped so the form codec's ``+``→space rule can't fire),
    and fixed-literal regexp_replaces — no backtracking risk anywhere.
    Apply it ONCE per row in its own projection, so that
    :func:`_glob_hit_sql`'s many references read a materialized
    attribute instead of re-inlining this tree (the 64KB codegen
    pitfall). It is rendered as SQL text and parsed in ONE pass
    instead of ~250-400 py4j constructor RPCs (guide §7.3 "very large
    plans": the composed crawl operators rebuild this tree several
    times per invocation, all single-threaded driver time).

    Fast path: a string containing NONE of ``% * $ +`` or the
    private-use markers is a FIXED POINT of the whole chain — nothing
    to decode, no meta to carry, nothing to escape ('+' only matters
    because url_decode would form-decode it; with no '%' the decode is
    the identity on the rest) — so one character-class scan skips the
    decode and all replaces for it. Typical crawl paths are exactly
    this shape; the rules side keeps the full chain (rules carry meta
    chars by design). CASE WHEN short-circuits per row, so complex
    rows pay the full chain plus one scan.

    Locked against the independent Python model on the hazard
    alphabet by tests/test_robots.py::test_sql_forms_match_the_python_models."""
    valid = f"NOT ({s} RLIKE {_sql_lit('%(?![0-9A-Fa-f]{2})')})"
    # hostile-input hardening, hazard-gated so the common row pays ONE
    # extra scan, not ten replaces
    base = (
        f"CASE WHEN {s} RLIKE {_sql_lit(_PRIVATE_HAZARD_RE)} "
        f"THEN {_protect_private_sql(s)} ELSE {s} END"
    )
    esc_plus, esc_star = _sql_lit(r"\+"), _sql_lit(r"\*")
    esc_dollar, esc_tail_dollar = _sql_lit(r"\$"), _sql_lit(r"\$$")
    x = f"regexp_replace({base}, {esc_plus}, '%2B')"  # url_decode form-decodes '+'
    if is_rule:
        x = f"regexp_replace({x}, {esc_star}, {_sql_lit(_SENT_STAR)})"
        # only a TRAILING '$' is the end anchor (the grammar); a mid-rule
        # raw '$' is a literal and must keep matching a URL's raw '$' —
        # it falls through to _LIT_DOLLAR with the URL side
        x = f"regexp_replace({x}, {esc_tail_dollar}, {_sql_lit(_SENT_DOLLAR)})"
    x = f"url_decode({x})"
    x = f"regexp_replace({x}, {esc_star}, {_sql_lit(_LIT_STAR)})"
    x = f"regexp_replace({x}, {esc_dollar}, {_sql_lit(_LIT_DOLLAR)})"
    if is_rule:
        x = f"regexp_replace({x}, {_sql_lit(_SENT_STAR)}, '*')"
        x = f"regexp_replace({x}, {_sql_lit(_SENT_DOLLAR)}, {esc_dollar})"
    simple = f"NOT ({s} RLIKE {_sql_lit('[%*$+' + _SENT_STAR + '-' + _ESC + ']')})"
    return f"CASE WHEN {simple} THEN {s} WHEN {valid} THEN {x} ELSE {s} END"


def _glob_hit_sql(path: str, rule: str) -> str:
    """Does ``rule`` (RFC 9309 pattern: literal bytes, ``*`` wildcards,
    optional trailing ``$`` anchor, ``$`` elsewhere literal, anchored at
    the path start) match ``path``? LINEAR-TIME greedy segment
    placement — the approach of the reference matcher (Google's
    robotstxt ``Matches()``), chosen over regex compilation because the
    rules are attacker-controlled and Java regex backtracking on
    ``/*a*a*a*a`` is superlinear (r11 advice). Wholly JVM-side: one
    ``aggregate`` fold over the ``*``-separated literal segments, each
    step a single ``locate`` scan, rendered as one parsed string
    instead of ~680 constructor RPCs.

    Greedy-leftmost is exact for this grammar: the first segment must
    be a prefix; every middle segment is placed at its earliest
    position after the previous one (minimizing consumed length keeps
    all later placements feasible); a trailing anchor requires the last
    segment to sit exactly at the end, at or after the greedy frontier.
    Both operands should be materialized attributes — the text
    references them several times. Equivalence to an independent Python
    model is fuzz-locked in tests/test_robots.py."""
    anchored = f"endswith({rule}, '$')"
    body = f"CASE WHEN {anchored} THEN substring({rule}, 1, length({rule}) - 1) ELSE {rule} END"
    esc_star = _sql_lit(r"\*")
    segs = f"split({body}, {esc_star}, -1)"
    n = f"size({segs})"
    first = f"element_at({segs}, 1)"
    last = f"element_at({segs}, -1)"
    init = f"named_struct('ok', startswith({path}, {first}), 'pos', length({first}))"
    # middle segments: everything after the first (unanchored — the tail
    # may float), or strictly between first and last (anchored — the
    # last is pinned to the end and checked separately)
    mid = (
        f"CASE WHEN {anchored} THEN slice({segs}, 2, greatest({n} - 2, 0)) "
        f"ELSE slice({segs}, 2, {n} - 1) END"
    )
    step = (
        f"CASE WHEN (NOT st.ok) OR (length(s) = 0) THEN st ELSE "
        f"named_struct('ok', locate(s, {path}, st.pos + 1) > 0, "
        f"'pos', locate(s, {path}, st.pos + 1) - 1 + length(s)) END"
    )
    folded = f"aggregate({mid}, {init}, (st, s) -> {step})"
    return (
        f"CASE WHEN {anchored} THEN (CASE WHEN {n} = 1 THEN {path} = {first} "
        f"ELSE ({folded}).ok AND endswith({path}, {last}) "
        f"AND (length({path}) - length({last}) >= ({folded}).pos) END) "
        f"ELSE ({folded}).ok END"
    )


def _grouped_directives(
    df: DataFrame,
    agent: str,
    text_col: str,
    domain_col: str,
    max_bytes: int | None,
) -> tuple[DataFrame, DataFrame]:
    """Shared front half of robots parsing: line split → directive
    parse → group-id recovery → agent group selection. Returns
    ``(grouped, picked)`` where ``grouped`` is every parsed directive
    with its ``gid`` and ``picked`` is the (domain, gid) set governing
    ``agent`` (exact groups suppress ``*`` per the RFC's
    most-specific-group rule). Used by :func:`parse_robots` (allow/
    disallow rules) and :func:`crawl_delays` (the politeness
    directive) so the two cannot disagree on the group grammar."""
    agent_lc = agent.lower()
    # Construction is SQL-text throughout (the r14 similarity-family
    # lever): the directive grammar below is a fixed expression tree
    # rebuilt on EVERY parse_robots/crawl_delays call, and the Column-
    # constructor form cost ~1,000 py4j RPCs of single-threaded driver
    # time per call (guide §7.3). Semantics byte-identical — every
    # pattern string renders through _sql_lit, so the Java regex the
    # parser sees is the same one the Column form passed.
    #
    # real-world formatting is hostile in fail-OPEN ways (a dropped rule
    # means "allowed"): strip a leading UTF-8 BOM (reference parsers
    # skip it), split on \r\n, bare \r, OR bare \n (CR-only files exist
    # in crawl corpora), and trim TABS as well as spaces (RFC 9309's
    # *WS is space/tab; trim() alone only strips spaces)
    text = f"regexp_replace(`{text_col}`, {_sql_lit('^﻿')}, '')"
    if max_bytes is not None:
        # parse cap: truncate, then drop the cut line's remainder — a
        # half rule like 'Disallow: /priv' (from '/private-x') would be
        # a rule the site never wrote
        tail_re = _sql_lit(r"[^\r\n]*$")
        text = (
            f"CASE WHEN length({text}) > {int(max_bytes)} THEN "
            f"regexp_replace(substring({text}, 1, {int(max_bytes)}), {tail_re}, '') "
            f"ELSE {text} END"
        )
    ws_head, ws_tail = _sql_lit(r"^[ \t]+"), _sql_lit(r"[ \t]+$")
    ws_trim = lambda c: (  # noqa: E731
        f"regexp_replace(regexp_replace({c}, {ws_head}, ''), {ws_tail}, '')"
    )
    newline_re = _sql_lit(r"\r\n|\r|\n")
    lines = df.selectExpr(
        f"`{domain_col}` AS domain",
        f"posexplode(split({text}, {newline_re})) AS (lno, line)",
    ).selectExpr(
        "domain",
        "lno",
        ws_trim(f"regexp_replace(line, {_sql_lit('#.*$')}, '')") + " AS line",
    )
    field_re = _sql_lit(r"(?i)^([a-z-]+)[ \t]*:")
    value_re = _sql_lit(r"(?i)^[a-z-]+[ \t]*:(.*)$")
    parsed = lines.selectExpr(
        "domain",
        "lno",
        f"lower(regexp_extract(line, {field_re}, 1)) AS field",
        ws_trim(f"regexp_extract(line, {value_re}, 1)") + " AS value",
    ).where("field != ''")  # every parsed directive shapes groups
    over = "OVER (PARTITION BY domain ORDER BY lno)"
    is_ua = "CAST(field = 'user-agent' AS INT)"
    grouped = parsed.selectExpr(
        "*",
        f"(({is_ua}) = 1) AND (coalesce(lag({is_ua}) {over}, 0) = 0) AS _start",
    ).selectExpr("*", f"sum(CAST(_start AS INT)) {over} AS gid")
    # agent set per group: does it name our agent exactly? the wildcard?
    agents = (
        grouped.where("field = 'user-agent'")
        .groupBy("domain", "gid")
        .agg(
            F.expr(f"max(CAST(lower(value) = {_sql_lit(agent_lc)} AS INT))").alias("has_exact"),
            F.expr("max(CAST(value = '*' AS INT))").alias("has_star"),
        )
    )
    # most-specific-group rule: a domain with ANY exact group ignores *
    dom_exact = agents.groupBy("domain").agg(F.max("has_exact").alias("dom_exact"))
    picked = agents.join(dom_exact, "domain").where(
        "has_exact = 1 OR (dom_exact = 0 AND has_star = 1)"
    )
    return grouped, picked


def parse_robots(
    df: DataFrame,
    agent: str = "*",
    text_col: str = "robots_txt",
    domain_col: str = "domain",
    max_bytes: int | None = 500 * 1024,
    max_rules_per_domain: int | None = 2000,
) -> DataFrame:
    """Rules governing ``agent`` from one robots.txt per domain →
    ``(domain, rule_path, allow, rule_len)``.

    Group grammar per RFC 9309: consecutive ``User-agent:`` lines open
    ONE group whose rule block runs to the next ``User-agent`` line;
    ANY parsed directive between two UA lines (a rule, ``crawl-delay``,
    ``sitemap``, even an unrecognized field) ends the accumulation, so
    the next UA line starts a NEW group — the reference parsers'
    behavior (r11 advice; previously two UA groups separated only by a
    non-rule directive merged, over-blocking the first agent). The
    group matching the exact agent token wins, else the ``*`` group;
    if the exact agent has ANY group, every ``*`` group is ignored
    (the RFC's most-specific-group rule). Empty ``Disallow:`` values
    drop (match nothing). Comments (``#``) strip.

    Hostile-input caps (RFC 9309 §2.4 sanctions parse limits; 500 KiB
    is the de-facto ceiling reference crawlers enforce): at most
    ``max_bytes`` CHARACTERS of each document are parsed — measured in
    code points, not octets, a deliberate simplification (each code
    point is ≥1 octet, so the work bound holds; multi-byte documents
    just parse slightly past 500 KiB of text) — with a trailing
    partial line dropped when truncation bites; and at most
    ``max_rules_per_domain`` rules survive per domain, kept in document
    order. Pass ``None`` to disable either cap. ``rule_len`` is the
    OCTET length (RFC 9309 longest-match precedence is defined over
    octets; character counts pick a different winner on non-ASCII
    UTF-8 paths).

    Plan: posexplode lines → per-domain window (running group id = a
    cumulative count of group STARTS, where a group start is a UA line
    whose previous line is not a UA line) → rules join their group's
    agent set via a per-(domain, gid) aggregate. Two shuffles on
    (domain) / (domain, gid); robots documents are KB-sized, so both
    exchanges move one small row set per site."""
    grouped, picked = _grouped_directives(df, agent, text_col, domain_col, max_bytes)
    rules = (
        grouped.where("field IN ('allow', 'disallow') AND gid > 0")
        .join(picked.select("domain", "gid"), ["domain", "gid"], "left_semi")
        .where("value != ''")  # empty Disallow: matches nothing
        .selectExpr(
            "domain",
            "lno",
            "value AS rule_path",
            "field = 'allow' AS allow",
            # octet length: RFC 9309 precedence is longest-match in BYTES
            "octet_length(value) AS rule_len",
        )
    )
    if max_rules_per_domain is not None:
        # rules cap, document order — bounds the match join's fan-out
        # per domain against adversarial mega-documents
        rules = rules.selectExpr(
            "*", "row_number() OVER (PARTITION BY domain ORDER BY lno) AS _rn"
        ).where(f"_rn <= {int(max_rules_per_domain)}")
    return rules.select("domain", "rule_path", "allow", "rule_len")


def crawl_delays(
    df: DataFrame,
    agent: str = "*",
    text_col: str = "robots_txt",
    domain_col: str = "domain",
    max_bytes: int | None = 500 * 1024,
) -> DataFrame:
    """Per-domain ``Crawl-delay`` for ``agent`` → ``(domain,
    crawl_delay)`` seconds (double) — the politeness half a fetcher
    schedules by. Non-standard (absent from RFC 9309, honored by the
    Bing/Yandex family), so semantics are the de-facto ones: the
    directive applies group-wide; group selection is the SAME grammar
    as :func:`parse_robots` (shared through ``_grouped_directives`` —
    the two cannot disagree); among multiple applicable values the MAX
    wins (the conservative, slower schedule); non-numeric or negative
    values drop (try_cast, never an ANSI kill); domains with no
    applicable directive simply have no row — fetchers fall back to
    their default pacing."""
    grouped, picked = _grouped_directives(df, agent, text_col, domain_col, max_bytes)
    return (
        grouped.where("field = 'crawl-delay' AND gid > 0")
        .join(picked.select("domain", "gid"), ["domain", "gid"], "left_semi")
        .selectExpr("*", "try_cast(value AS double) AS _d")
        .where("_d IS NOT NULL AND _d >= 0")
        .groupBy("domain")
        .agg(F.max("_d").alias("crawl_delay"))
    )


def match_allowed(
    pages: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    id_col: str = "doc_id",
) -> DataFrame:
    """Append ``allowed`` (and the winning ``matched_rule``) to pages:
    RFC 9309 longest-match — among the domain's rules whose path
    pattern matches the URL's path+query, the longest wins; ties break
    Allow; no matching rule (or no robots for the domain) ⇒ allowed.

    Input contract (the prepare_crawl convention): ``id_col`` must be
    unique per page row — it keys the per-page winner window.

    Plan: LEFT join pages→rules on domain (per-domain rule lists are
    tens of rows, capped at parse time — the fan-out is
    O(pages × rules/domain), AQE-decided), a LINEAR-TIME per-row glob
    match (``_glob_hit_sql`` — no regex compilation, no backtracking), then
    one WindowGroupLimit per page for the longest winner."""
    from apache_cassandra_spark.analytics.web import _REST_RE

    # Construction is SQL-text (the r14 similarity-family lever): the
    # canonicalization + matcher trees below cost ~1,900 py4j RPCs per
    # call in Column-constructor form, rebuilt on every invocation of
    # the composed crawl operators (guide §7.3). The rendered
    # expressions are locked against the Python models in
    # tests/test_robots.py.
    #
    # the rules side is renamed up front so a pages frame carrying any
    # 'allow'/'rule_*' column can't make references ambiguous
    r = rules.selectExpr(
        "domain AS _r_domain",
        "rule_path AS _r_path",
        # match in the RFC 9309 §2.2.2 canonical space; _r_path stays
        # original for the matched_rule output and the length tiebreak
        f"{_pct_canon_sql('rule_path', is_rule=True)} AS _r_canon",
        "allow AS _r_allow",
        "rule_len AS _r_len",
    )
    # path+query via web.py's shared URL grammar (_REST_RE already
    # excludes the fragment); empty path defaults to '/'; canonical
    # percent space with raw meta chars re-encoded (URL side)
    rest = f"regexp_extract(`{url_col}`, {_sql_lit(_REST_RE)}, 1)"
    path = f"CASE WHEN {rest} = '' THEN '/' ELSE {rest} END"
    keyed = pages.selectExpr("*", f"{_pct_canon_sql(path)} AS _path")
    joined = keyed.join(r, keyed[domain_col] == r["_r_domain"], "left")
    matched = joined.selectExpr(
        "*",
        f"(_r_path IS NOT NULL) AND ({_glob_hit_sql('_path', '_r_canon')}) AS _hit",
    )
    w = Window.partitionBy(keyed[id_col]).orderBy(
        F.col("_hit").desc(),
        F.col("_r_len").desc(),
        F.col("_r_allow").desc(),
        F.col("_r_path").asc_nulls_last(),  # total order: deterministic winner
    )
    ranked = matched.withColumn("_rk", F.row_number().over(w)).where(F.col("_rk") == 1)
    return ranked.select(
        *[keyed[c] for c in pages.columns],
        F.coalesce(F.when(F.col("_hit"), F.col("_r_allow")), F.lit(True)).alias("allowed"),
        F.when(F.col("_hit"), F.col("_r_path")).alias("matched_rule"),
    )


def sitemap_urls(
    df: DataFrame,
    text_col: str = "robots_txt",
    domain_col: str = "domain",
) -> DataFrame:
    """``Sitemap:`` directives from robots.txt → ``(domain,
    sitemap_url)`` rows, one per directive. RFC 9309 scopes these
    OUTSIDE user-agent groups (they apply globally), so no group
    recovery is needed — one codegen extract-all + explode per
    document; feed the results to the fetcher and the fetched XML to
    :func:`..web.parse_sitemap`."""
    urls = F.regexp_extract_all(
        F.col(text_col), F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)"), 1
    )
    return (
        df.select(F.col(domain_col).alias("domain"), F.explode(urls).alias("sitemap_url"))
        .where(F.col("sitemap_url") != "")
    )
