"""robots.txt (RFC 9309) parsing + URL permission matching — group
grammar, wildcard/anchor matching, longest-match/Allow-wins precedence,
and a spec-worded Python-model fuzz."""

import random

from pyspark.sql import functions as F

from apache_cassandra_spark.analytics import robots

ROBOTS = """\
# site policy
User-agent: *
Disallow: /private/
Allow: /private/public-bit/
Disallow: /*.pdf$
Disallow: /tmp

User-agent: goodbot
User-agent: otherbot
Disallow: /only-good-blocked/

User-agent: badbot
Disallow: /
"""


def _rules(spark, agent, text=ROBOTS, domain="e.com"):
    df = spark.createDataFrame([(domain, text)], "domain string, robots_txt string")
    return robots.parse_robots(df, agent=agent)


def _allowed(spark, agent, urls, text=ROBOTS):
    rules = _rules(spark, agent, text)
    pages = spark.createDataFrame(
        [(i, u, "e.com") for i, u in enumerate(urls)], "doc_id long, url string, domain string"
    )
    out = robots.match_allowed(pages, rules)
    return {r["url"]: (r["allowed"], r["matched_rule"]) for r in out.collect()}


def test_group_selection_exact_beats_star(spark):
    # badbot gets its own group (total block), not the * group
    got = _allowed(spark, "badbot", ["http://e.com/anything", "http://e.com/private/x"])
    assert all(v[0] is False for v in got.values())
    # goodbot: ONLY its group applies — /private/ (a * rule) is allowed
    got = _allowed(
        spark, "goodbot", ["http://e.com/private/x", "http://e.com/only-good-blocked/x"]
    )
    assert got["http://e.com/private/x"][0] is True
    assert got["http://e.com/only-good-blocked/x"][0] is False


def test_star_group_wildcards_anchor_and_precedence(spark):
    got = _allowed(
        spark,
        "plainbot",
        [
            "http://e.com/",                          # no rule -> allowed
            "http://e.com/private/secret",            # Disallow /private/
            "http://e.com/private/public-bit/a",      # longer Allow wins
            "http://e.com/doc.pdf",                   # /*.pdf$ anchored
            "http://e.com/doc.pdf?x=1",               # query defeats the $ anchor
            "http://e.com/tmp-file",                  # prefix rule /tmp
            "http://e.com/a/doc.pdfx",                # .pdfx doesn't end in .pdf
        ],
    )
    assert got["http://e.com/"][0] is True and got["http://e.com/"][1] is None
    assert got["http://e.com/private/secret"] == (False, "/private/")
    assert got["http://e.com/private/public-bit/a"] == (True, "/private/public-bit/")
    assert got["http://e.com/doc.pdf"] == (False, "/*.pdf$")
    assert got["http://e.com/doc.pdf?x=1"][0] is True
    assert got["http://e.com/tmp-file"] == (False, "/tmp")
    assert got["http://e.com/a/doc.pdfx"][0] is True


def test_shared_ua_lines_one_group(spark):
    got = _allowed(spark, "otherbot", ["http://e.com/only-good-blocked/x", "http://e.com/private/x"])
    assert got["http://e.com/only-good-blocked/x"][0] is False
    assert got["http://e.com/private/x"][0] is True  # * group ignored: otherbot has its own


def test_empty_disallow_and_missing_robots(spark):
    got = _allowed(spark, "anybot", ["http://e.com/x"], text="User-agent: *\nDisallow:\n")
    assert got["http://e.com/x"][0] is True
    # a page whose domain has NO robots rules at all
    rules = _rules(spark, "anybot")
    pages = spark.createDataFrame(
        [(1, "http://other.com/x", "other.com")], "doc_id long, url string, domain string"
    )
    out = robots.match_allowed(pages, rules).collect()[0]
    assert out["allowed"] is True and out["matched_rule"] is None


def test_case_insensitive_fields_and_comments(spark):
    text = "USER-AGENT: MyBot # the agent\nDISALLOW: /x # comment\nallow: /x/y\n"
    got = _allowed(spark, "mybot", ["http://e.com/x/a", "http://e.com/x/y/b"], text=text)
    assert got["http://e.com/x/a"][0] is False
    assert got["http://e.com/x/y/b"][0] is True


def test_regex_metachars_in_rule_paths_are_literal(spark):
    text = "User-agent: *\nDisallow: /a(b)/c+d/\n"
    got = _allowed(spark, "x", ["http://e.com/a(b)/c+d/e", "http://e.com/ab/cd/e"], text=text)
    assert got["http://e.com/a(b)/c+d/e"][0] is False
    assert got["http://e.com/ab/cd/e"][0] is True


# --- spec-worded Python model + fuzz ---


def _py_canon(s, is_rule=False):
    """Independent model of robots._pct_canon: the percent-DECODED
    comparison space — rule meta '*' (anywhere) and the TRAILING '$'
    anchor ride sentinels through the decode; literal '*'/'$' (a URL's
    raw ones or either side's decoded %2A/%24) land on private literal
    code points. Mirrors Java URLDecoder semantics via unquote
    (errors='replace')."""
    import re
    from urllib.parse import unquote

    if re.search(r"%(?![0-9A-Fa-f]{2})", s):
        return s
    # r14 sentinel-collision hardening mirror: pre-existing private-use
    # markers (raw, or percent-spelled UTF-8 triplets) escape to
    # \ue004+digit before anything can read them as meta
    x = s.replace("\ue004", "\ue0044")
    for i, ch in enumerate("\ue000\ue001\ue002\ue003"):
        x = x.replace(ch, "\ue004" + str(i))
    for i in range(5):
        x = re.sub(f"(?i)%EE%80%8{i}", "\ue004" + str(i), x)
    x = x.replace("+", "%2B")
    if is_rule:
        x = x.replace("*", "\ue000")
        if x.endswith("$"):
            x = x[:-1] + "\ue001"
    x = unquote(x, errors="replace")
    x = x.replace("*", "\ue002").replace("$", "\ue003")
    if is_rule:
        x = x.replace("\ue000", "*").replace("\ue001", "$")
    return x


def _py_match(rule, path):
    i, parts = 0, rule.rstrip("$").split("*")
    anchored = rule.endswith("$")
    pos = 0
    if not path.startswith(parts[0]):
        return False
    pos = len(parts[0])
    for part in parts[1:]:
        j = path.find(part, pos)
        if j == -1:
            return False
        pos = j + len(part)
    if anchored:
        # no '*': the rule must equal the whole path, as in the reference
        # matcher (Google robotstxt Matches(): "$" matches only "")
        if len(parts) == 1:
            return path == parts[0]
        # the last part must reach the end (greedy * can absorb the rest
        # unless the rule ends with a literal segment)
        if parts[-1] == "":
            return True
        return path.endswith(parts[-1]) and len(path) >= pos
    return True


def _py_allowed(rules, path):
    hits = [(len(r), allow, r) for (r, allow) in rules if _py_match(r, path)]
    if not hits:
        return True
    best = max(hits, key=lambda h: (h[0], h[1]))
    return best[1]


def test_fuzz_matcher_vs_python_model(spark):
    rnd = random.Random(7)
    segs = ["/a", "/bb", "/ccc", "/d.pdf", "/e", "*", ""]
    rules = []
    for _ in range(12):
        r = "/" + "".join(rnd.choices(["a", "b", "*", ".", "x/"], k=rnd.randint(1, 5)))
        if rnd.random() < 0.3:
            r += "$"
        rules.append((r, rnd.random() < 0.5))
    text = "User-agent: *\n" + "\n".join(
        ("Allow: " if allow else "Disallow: ") + r for r, allow in rules
    )
    paths = ["/" + "".join(rnd.choices(["a", "b", "x/", ".", "q"], k=rnd.randint(0, 6))) for _ in range(80)]
    urls = [f"http://e.com{p}" for p in paths]
    got = _allowed(spark, "fuzzbot", urls, text=text)
    for p, u in zip(paths, urls):
        assert got[u][0] == _py_allowed(rules, p), (p, got[u])


def test_percent_encoding_equivalence_rfc_9309_cases(spark):
    """RFC 9309 §2.2.2: matching happens on canonical percent-encoded
    octets. The spec's own example table plus the r12-verdict case
    (rule /a%20b vs URL '/a b', both directions) — each pair must hit
    the Disallow either way around."""
    pairs = [
        ("/a%20b", "/a b"),                 # the verdict's case
        ("/a b", "/a%20b"),                 # ...and its mirror
        ("/%61%62c", "/abc"),               # unreserved triplets decode
        ("/q%3a", "/q%3A"),                 # hex case folds
        # RFC examples: encoded reserved chars in the rule match the
        # raw form in the URL's query, and %24/%2A match raw $ and *
        ("/foo/bar?baz=https%3A%2F%2Ffoo.bar", "/foo/bar?baz=https://foo.bar"),
        ("/path/foo-%24", "/path/foo-$"),
        ("/path/file-%2A.html", "/path/file-*.html"),
        ("/caf%C3%A9", "/café"),            # UTF-8 multi-octet
        ("/a%2Bb", "/a+b"),                 # '+' is a literal, not space
    ]
    for i, (rule, path) in enumerate(pairs):
        text = f"User-agent: *\nDisallow: {rule}\n"
        got = _allowed(spark, "pctbot", [f"http://e.com{path}"], text=text)
        assert got[f"http://e.com{path}"][0] is False, (rule, path)
    # meta chars keep their meaning: trailing $ anchors, * wildcards
    text = "User-agent: *\nDisallow: /x*y$\n"
    got = _allowed(
        spark, "pctbot",
        ["http://e.com/xaay", "http://e.com/xaayz", "http://e.com/x%2Ay"],
        text=text,
    )
    assert got["http://e.com/xaay"][0] is False       # wildcard + anchor hit
    assert got["http://e.com/xaayz"][0] is True       # anchor holds
    assert got["http://e.com/x%2Ay"][0] is False      # %2A ≡ raw '*' literal… matched by '*' wildcard
    # malformed triplets compare raw (fail-open to literal comparison)
    text = "User-agent: *\nDisallow: /bad%zz\n"
    got = _allowed(spark, "pctbot", ["http://e.com/bad%zz", "http://e.com/bad z"], text=text)
    assert got["http://e.com/bad%zz"][0] is False
    assert got["http://e.com/bad z"][0] is True
    # mid-rule raw '$' is a LITERAL (only the trailing one anchors):
    # it matches both a raw '$' and %24 in the URL
    text = "User-agent: *\nDisallow: /pre$in\n"
    got = _allowed(
        spark, "pctbot",
        ["http://e.com/pre$in/x", "http://e.com/pre%24in/x", "http://e.com/prein/x"],
        text=text,
    )
    assert got["http://e.com/pre$in/x"][0] is False
    assert got["http://e.com/pre%24in/x"][0] is False
    assert got["http://e.com/prein/x"][0] is True
    # the decoded space is alignment-safe: rule text '2F' must NOT
    # match inside what an encoded slash decodes to
    text = "User-agent: *\nDisallow: /*2F\n"
    got = _allowed(spark, "pctbot", ["http://e.com/a/", "http://e.com/a2F"], text=text)
    assert got["http://e.com/a/"][0] is True
    assert got["http://e.com/a2F"][0] is False


def test_fuzz_matcher_percent_encoding_vs_python_model(spark):
    """Third fuzz lens (the r12 verdict's ask): rules and paths drawn
    from an alphabet dense in percent-encoding hazards — encoded and
    raw spaces/slashes/letters, hex-case variants, UTF-8 multi-octet,
    '+', '~', meta '*'/'$', and malformed '%' — one batched Spark
    evaluation against the independent canonicalizing Python model."""
    rnd = random.Random(424242)
    atoms = ["a", "b", "%20", " ", "/", "%2F", "%2f", "%61", "é", "%C3%A9",
             "+", "%2B", "~", "%7E", "*", "$", "%24", "%2A", ".", "%z", "%",
             # r14 sentinel-hazard lens: raw private-use markers and the
             # percent-triplet spellings of their UTF-8 (both hex cases)
             # — hostile bytes must not fabricate meta characters
             "", "", "", "%EE%80%80", "%ee%80%81",
             "%EE%80%83", "%Ee%80%84"]
    rules = []
    for _ in range(40):
        r = "/" + "".join(rnd.choices(atoms, k=rnd.randint(1, 5)))
        if rnd.random() < 0.4:
            r += "$"
        rules.append((r, rnd.random() < 0.5))
    paths = ["/" + "".join(rnd.choices(atoms, k=rnd.randint(0, 6))) for _ in range(100)]
    rule_rows = [(f"d{i}.com", f"User-agent: *\n{'Allow' if allow else 'Disallow'}: {r}\n")
                 for i, (r, allow) in enumerate(rules)]
    df = spark.createDataFrame(rule_rows, "domain string, robots_txt string")
    parsed = robots.parse_robots(df, agent="fuzzbot")
    pages = spark.createDataFrame(
        [(i * 1000 + j, f"http://d{i}.com{p}", f"d{i}.com")
         for i in range(len(rules)) for j, p in enumerate(paths)],
        "doc_id long, url string, domain string",
    )
    out = robots.match_allowed(pages, parsed)
    got = {(r["domain"], r["url"]): r["allowed"] for r in out.collect()}
    for i, (r, allow) in enumerate(rules):
        cr = _py_canon(r, is_rule=True)
        for j, p in enumerate(paths):
            want = allow if _py_match(cr, _py_canon(p)) else True
            assert got[(f"d{i}.com", f"http://d{i}.com{p}")] == want, (r, p, cr, _py_canon(p))


def test_sentinel_collision_cannot_forge_meta(spark):
    """Directed regression for the r13 verdict's sentinel-collision
    edge (robots bytes are attacker-controlled): a rule spelling a
    sentinel's UTF-8 as percent-triplets (%EE%80%80 = U+E000, the
    meta-'*' carrier) must match only the LITERAL private-use
    character — never act as a wildcard; same for the %EE%80%81
    anchor carrier, which must not anchor; and raw private-use code
    points must compare equal across rule and URL."""
    # attack rule: would match /secret/anything if %EE%80%80 forged '*'
    text = "User-agent: *\nDisallow: /secret/%EE%80%80\n"
    got = _allowed(
        spark, "x",
        ["http://e.com/secret/a", "http://e.com/secret/",
         "http://e.com/secret/%EE%80%80"],
        text=text,
    )
    assert got["http://e.com/secret/a"][0] is True          # no forged wildcard
    assert got["http://e.com/secret/"][0] is False    # literal match (raw)
    assert got["http://e.com/secret/%EE%80%80"][0] is False  # literal match (encoded)
    # forged anchor: /a%EE%80%81 must NOT mean "ends at /a"
    text2 = "User-agent: *\nDisallow: /a%EE%80%81\n"
    got2 = _allowed(
        spark, "x",
        ["http://e.com/a", "http://e.com/ax", "http://e.com/a%EE%80%81x"],
        text=text2,
    )
    assert got2["http://e.com/a"][0] is True                 # not an anchor...
    assert got2["http://e.com/ax"][0] is False         # ...a literal prefix
    assert got2["http://e.com/a%EE%80%81x"][0] is False
    # escape char itself round-trips injectively
    text3 = "User-agent: *\nDisallow: /b\n"
    got3 = _allowed(
        spark, "x",
        ["http://e.com/b", "http://e.com/b%EE%80%84", "http://e.com/b4"],
        text=text3,
    )
    assert got3["http://e.com/b"][0] is False
    assert got3["http://e.com/b%EE%80%84"][0] is False
    assert got3["http://e.com/b4"][0] is True                # escape pair is invisible


def test_sitemap_directives_global_scope(spark):
    text = (
        "Sitemap: http://e.com/sitemap.xml\n"
        "User-agent: x\nDisallow: /\n"
        "sitemap:http://e.com/sitemap-news.xml\n"  # case/space lenient
    )
    df = spark.createDataFrame([("e.com", text)], "domain string, robots_txt string")
    got = {r["sitemap_url"] for r in robots.sitemap_urls(df).collect()}
    assert got == {"http://e.com/sitemap.xml", "http://e.com/sitemap-news.xml"}


def test_hostile_formatting_does_not_fail_open(spark):
    """BOM prefixes, tab separators, and CR-only line endings are all
    real-world robots.txt shapes; each previously yielded ZERO rules —
    and zero rules means everything allowed (fail-open)."""
    bom = "﻿User-agent: *\nDisallow: /x\n"
    tabs = "User-agent:\t*\n\tDisallow:\t/x\n"
    cr = "User-agent: *\rDisallow: /x\r"
    for text in (bom, tabs, cr):
        got = _allowed(spark, "anybot", ["http://e.com/x"], text=text)
        assert got["http://e.com/x"][0] is False, repr(text)


def test_pages_with_conflicting_column_names(spark):
    """A pages frame already carrying allow/rule_path columns must not
    make the join references ambiguous."""
    rules = _rules(spark, "anybot")
    pages = spark.createDataFrame(
        [(1, "http://e.com/private/x", "e.com", True, "r")],
        "doc_id long, url string, domain string, allow boolean, rule_path string",
    )
    out = robots.match_allowed(pages, rules).collect()[0]
    assert out["allowed"] is False  # the RULES' verdict, not the page column
    assert out["allow"] is True  # the page's own column is untouched


def test_sitemap_urls_nonstandard_column_name(spark):
    df = spark.createDataFrame(
        [("e.com", "Sitemap: http://e.com/s.xml")],
        ["domain", "robots txt"],
    )
    got = robots.sitemap_urls(df, text_col="robots txt").collect()
    assert got[0]["sitemap_url"] == "http://e.com/s.xml"


def _py_parse_model(text, agent):
    """Independent RFC 9309 group-grammar model (parse side)."""
    agent = agent.lower()
    groups, cur_agents, cur_rules, in_ua = [], None, None, False
    for line in text.lstrip("﻿").replace("\r\n", "\n").replace("\r", "\n").split("\n"):
        line = line.split("#")[0].strip(" \t")
        if not line or ":" not in line:
            continue
        f, v = line.split(":", 1)
        f, v = f.strip(" \t").lower(), v.strip(" \t")
        if f == "user-agent":
            if not in_ua:
                cur_agents, cur_rules = set(), []
                groups.append((cur_agents, cur_rules))
            in_ua = True
            cur_agents.add(v.lower() if v != "*" else "*")
        else:
            # ANY parsed directive (crawl-delay, sitemap, junk) ends UA
            # accumulation — the reference-parser behavior (r11 advice)
            in_ua = False
            if f in ("allow", "disallow") and cur_rules is not None and v:
                cur_rules.append((v, f == "allow"))
    exact = [r for a, r in groups if agent in a]
    if exact:
        return [x for r in exact for x in r]
    return [x for a, r in groups if "*" in a for x in r]


def test_fuzz_parse_vs_python_model(spark):
    """Random hostile formatting (BOM, CR endings, tab/space separator
    soup, junk fields, comments) — the Spark group recovery must agree
    with the independent line-level model for exact, star, and
    unmatched agents."""
    rnd = random.Random(3)
    fields = ["User-agent", "user-AGENT", "Disallow", "Allow", "Crawl-delay", "junk"]
    vals = ["*", "botA", "botB", "/x", "/y/", "/*.pdf$", "", "/x/y"]
    cases = []
    for seed in range(20):
        r2 = random.Random(seed)
        lines = [
            r2.choice(["", " ", "\t"])
            + r2.choice(fields)
            + r2.choice([": ", ":", ":\t", " : "])
            + r2.choice(vals)
            + r2.choice(["", " # c"])
            for _ in range(r2.randint(1, 12))
        ]
        cases.append(r2.choice(["", "﻿"]) + r2.choice(["\n", "\r\n", "\r"]).join(lines))
    df = spark.createDataFrame(
        [(f"d{i}", t) for i, t in enumerate(cases)], "domain string, robots_txt string"
    )
    for agent in ("bota", "nobody"):
        got = {}
        for r in robots.parse_robots(df, agent=agent).collect():
            got.setdefault(r["domain"], []).append((r["rule_path"], r["allow"]))
        for i, t in enumerate(cases):
            assert sorted(got.get(f"d{i}", [])) == sorted(_py_parse_model(t, agent)), (agent, i, t)


def test_non_rule_directive_splits_ua_groups(spark):
    """The r11-advice case: two UA groups separated only by a non-rule
    directive must NOT merge — agent a must not inherit b's rules."""
    text = "User-agent: a\nCrawl-delay: 10\nUser-agent: b\nDisallow: /x\n"
    got = _allowed(spark, "a", ["http://e.com/x"], text=text)
    assert got["http://e.com/x"][0] is True  # a's group has no rules
    got = _allowed(spark, "b", ["http://e.com/x"], text=text)
    assert got["http://e.com/x"][0] is False


def test_parse_cap_bytes_drops_tail_and_partial_line(spark):
    """RFC 9309 §2.4 parse limit: rules beyond max_bytes vanish, and the
    line cut by the limit is dropped whole (a half rule is a rule the
    site never wrote)."""
    head = "User-agent: *\nDisallow: /blocked/\n"
    filler = "# pad\n" * 50
    tail = "Disallow: /late-rule/\n"
    text = head + filler + tail
    cut = len(head) + len(filler) + len("Disallow: /late-r")  # mid-line
    df = spark.createDataFrame([("e.com", text)], "domain string, robots_txt string")
    rules = {r["rule_path"] for r in robots.parse_robots(df, max_bytes=cut).collect()}
    assert rules == {"/blocked/"}
    # untruncated document is untouched by the cap branch
    rules = {r["rule_path"] for r in robots.parse_robots(df).collect()}
    assert rules == {"/blocked/", "/late-rule/"}


def test_rules_per_domain_cap_keeps_document_order(spark):
    text = "User-agent: *\n" + "".join(f"Disallow: /r{i:04d}/\n" for i in range(30))
    df = spark.createDataFrame([("e.com", text)], "domain string, robots_txt string")
    kept = sorted(
        r["rule_path"] for r in robots.parse_robots(df, max_rules_per_domain=10).collect()
    )
    assert kept == [f"/r{i:04d}/" for i in range(10)]


def test_rule_len_is_octets_not_chars(spark):
    """RFC 9309 longest-match precedence counts OCTETS. Disallow /éé is
    3 chars / 5 octets; Allow /*ab is 4 chars / 4 octets; both match
    /ééab — character counting hands the win to Allow (4 > 3), octet
    counting to Disallow (5 > 4). The octet winner is correct."""
    text = "User-agent: *\nDisallow: /éé\nAllow: /*ab\n"
    url = "http://e.com/ééab"
    got = _allowed(spark, "x", [url], text=text)
    assert got[url] == (False, "/éé")


def test_hostile_wildcard_rule_matches_in_linear_time(spark):
    """The r11-advice DoS vector: a rule with many '*'s against long
    non-matching paths. The regex formulation backtracks superlinearly
    (minutes); the glob matcher is linear — this test finishing at all
    is the assertion, the verdicts are checked for exactness."""
    rule = "/" + "*a" * 20 + "$"
    text = f"User-agent: *\nDisallow: {rule}\n"
    near_miss = "/" + "a" * 2000 + "b"     # endswith fails after 20 scans
    hit = "/" + "a" * 2000                  # 20 a's exist, ends with a
    got = _allowed(
        spark, "x", [f"http://e.com{near_miss}", f"http://e.com{hit}"], text=text
    )
    assert got[f"http://e.com{near_miss}"][0] is True
    assert got[f"http://e.com{hit}"] == (False, rule)


def test_crawl_delays_group_selection_and_max(spark):
    """Crawl-delay rides the SAME group grammar: exact group suppresses
    *, multiple applicable values take the conservative max, junk and
    negative values drop, no-directive domains emit no row."""
    texts = [
        # exact group (delay 7) suppresses * (delay 99)
        ("a.com", "User-agent: mybot\nCrawl-delay: 7\nDisallow: /x\n"
                  "User-agent: *\nCrawl-delay: 99\n"),
        # falls to *: two star groups -> max(2, 10) = 10
        ("b.com", "User-agent: *\nCrawl-delay: 2\n"
                  "User-agent: *\nDisallow: /y\nCrawl-delay: 10\n"),
        # junk + negative drop; fractional parses
        ("c.com", "User-agent: *\nCrawl-delay: soon\nCrawl-delay: -3\nCrawl-delay: 1.5\n"),
        # no directive at all
        ("d.com", "User-agent: *\nDisallow: /z\n"),
        # directive outside any group is ignored
        ("e.com", "Crawl-delay: 42\nUser-agent: *\nDisallow: /q\n"),
    ]
    df = spark.createDataFrame(texts, "domain string, robots_txt string")
    got = {r["domain"]: r["crawl_delay"] for r in robots.crawl_delays(df, agent="MyBot").collect()}
    assert got == {"a.com": 7.0, "b.com": 10.0, "c.com": 1.5}


def test_fuzz_matcher_anchored_overlap_adversarial(spark):
    """Second fuzz lens aimed at the anchored-overlap frontier (the
    /ab*b$ vs /ab case): segments drawn from an alphabet where every
    segment overlaps every other ({a, ab, b, ba, aa}), heavy '*'
    density, ~50% '$' anchors — one batched Spark evaluation against
    the independent Python model."""
    rnd = random.Random(1234)
    seg_pool = ["a", "ab", "b", "ba", "aa", "aba"]
    rules = []
    for _ in range(40):
        n_seg = rnd.randint(1, 4)
        r = "/" + "*".join(rnd.choice(seg_pool) for _ in range(n_seg))
        if rnd.random() < 0.3:
            r = "/*" + r[1:]
        if rnd.random() < 0.5:
            r += "$"
        rules.append((r, rnd.random() < 0.5))
    paths = ["/" + "".join(rnd.choices("ab", k=rnd.randint(0, 10))) for _ in range(120)]
    # evaluate EVERY (rule, path) pair in one frame via a synthetic
    # one-rule-per-domain universe
    rule_rows = [(f"d{i}.com", f"User-agent: *\n{'Allow' if allow else 'Disallow'}: {r}\n")
                 for i, (r, allow) in enumerate(rules)]
    df = spark.createDataFrame(rule_rows, "domain string, robots_txt string")
    parsed = robots.parse_robots(df, agent="fuzzbot")
    pages = spark.createDataFrame(
        [(i * 1000 + j, f"http://d{i}.com{p}", f"d{i}.com")
         for i in range(len(rules)) for j, p in enumerate(paths)],
        "doc_id long, url string, domain string",
    )
    out = robots.match_allowed(pages, parsed)
    got = {(r["domain"], r["url"]): r["allowed"] for r in out.collect()}
    for i, (r, allow) in enumerate(rules):
        for j, p in enumerate(paths):
            want = allow if _py_match(r, p) else True
            assert got[(f"d{i}.com", f"http://d{i}.com{p}")] == want, (r, p, allow)


def test_sql_forms_match_the_python_models(spark):
    """The SQL-text canonicalizer and matcher agree with the independent
    Python models (_py_canon, _py_match) on the full hazard alphabet
    (percent hazards, meta chars, raw/percent-spelled private-use
    sentinels, malformed triplets, UTF-8 multi-octet, quotes and
    backslashes), value by value and pair by pair."""
    rnd = random.Random(99)
    atoms = ["a", "b", "%20", " ", "/", "%2F", "%2f", "%61", "é", "%C3%A9",
             "+", "%2B", "~", "%7E", "*", "$", "%24", "%2A", ".", "%z", "%",
             "", "", "%EE%80%80", "%ee%80%81", "\\", "'", "x"]
    vals = ["/" + "".join(rnd.choices(atoms, k=rnd.randint(0, 8))) for _ in range(300)]
    vals += ["", "/", "$", "*", "/a*b$", "/x*y*z", "%"]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, s string"
    )
    for is_rule in (False, True):
        got = {
            r["i"]: r["c"]
            for r in df.selectExpr("i", f"{robots._pct_canon_sql('s', is_rule)} AS c").collect()
        }
        bad = [(vals[i], got[i]) for i in got if got[i] != _py_canon(vals[i], is_rule)]
        assert not bad, (is_rule, bad[:5])
    rules = ["/a", "/a*b", "/a*b$", "/*", "*", "/x*y*z$", "/", "$", "/a$b", "/%2A"]
    pairs = [(p, r) for p in vals[:60] for r in rules]
    pdf = spark.createDataFrame(
        [(i, p, r) for i, (p, r) in enumerate(pairs)], "i long, p string, r string"
    )
    got = {
        r["i"]: r["h"]
        for r in pdf.selectExpr("i", f"({robots._glob_hit_sql('p', 'r')}) AS h").collect()
    }
    bad = [(pairs[i], got[i]) for i in got if got[i] != _py_match(pairs[i][1], pairs[i][0])]
    assert not bad, bad[:5]
