"""HTML extraction semantics (analytics/html.py) — markup stripping,
entity decode order, link harvesting + resolution, the outlink graph,
and their plan shapes. Fuzz locks the Spark regex chain against an
independent pure-Python (re module) model."""

import random
import re

import pytest
from pyspark.sql import functions as F

from apache_cassandra_spark.analytics import html


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _one(spark, expr_fn, value):
    df = spark.createDataFrame([(value,)], "s string")
    return df.select(expr_fn(F.col("s")).alias("o")).collect()[0]["o"]


# ---------------------------------------------------------------- model

def _py_decode(s: str) -> str:
    for entity, char in html.NAMED_ENTITIES:
        s = s.replace(entity, char)
    return s


def _py_html_to_text(s: str) -> str:
    c = re.sub(r"(?is)<script\b[^>]*>.*?</script>", " ", s)
    c = re.sub(r"(?is)<style\b[^>]*>.*?</style>", " ", c)
    c = re.sub(r"(?s)<!--.*?-->", " ", c)
    c = re.sub(r"<[^>]*>", " ", c)
    c = _py_decode(c)
    return re.sub(r"\s+", " ", c).strip()


def _py_title(s: str) -> str:
    m = re.search(r"(?is)<title[^>]*>(.*?)</title>", s)
    return _py_decode(m.group(1)).strip() if m else ""


def _py_strip_noncontent(s: str) -> str:
    c = re.sub(r"(?is)<script\b[^>]*>.*?</script>", " ", s)
    c = re.sub(r"(?is)<style\b[^>]*>.*?</style>", " ", c)
    return re.sub(r"(?s)<!--.*?-->", " ", c)


def _py_href_of(tag: str) -> str:
    m = re.search(r'(?i)[\s"\']href\s*=\s*"([^"]*)"', tag)
    if m:
        return m.group(1)
    m = re.search(r"(?i)[\s\"']href\s*=\s*'([^']*)'", tag)
    return m.group(1) if m else ""


def _py_links(s: str):
    c = _py_strip_noncontent(s)
    return [h for h in (_py_href_of(t) for t in re.findall(r"(?i)<a\b[^>]*>", c)) if h]


# ------------------------------------------------------------- entities

def test_decode_entities_subset(spark):
    got = _one(spark, html.decode_entities, "&lt;a&gt; &quot;x&quot; &#39;y&apos; a&nbsp;b &amp; c")
    assert got == "<a> \"x\" 'y' a b & c"


def test_decode_entities_double_escape_amp_last(spark):
    # &amp;lt; is an ESCAPED "&lt;" — must decode to the literal text
    # "&lt;", never all the way to "<" (amp-last ordering)
    assert _one(spark, html.decode_entities, "&amp;lt;b&amp;gt;") == "&lt;b&gt;"
    assert _one(spark, html.decode_entities, "&amp;amp;") == "&amp;"


# ------------------------------------------------------- markup stripping

def test_strip_markup_removes_script_and_style_bodies(spark):
    doc = (
        '<p>keep</p><script type="text/javascript">var x = 1 < 2; '
        'document.write("<a href=http://evil.example/>");</script>'
        "<style>body { color: red }</style><span>tail</span>"
    )
    got = _one(spark, html.html_to_text, doc)
    assert got == "keep tail"


def test_strip_markup_case_insensitive_and_comments(spark):
    doc = "<SCRIPT>nope()</SCRIPT><!-- multi\nline\ncomment --><B>bold</B>"
    assert _one(spark, html.html_to_text, doc) == "bold"


def test_tag_removal_preserves_word_boundaries(spark):
    assert _one(spark, html.html_to_text, "<p>a</p><p>b</p>") == "a b"


def test_escaped_lt_survives_stripping_then_decodes(spark):
    # a literal '<' arrives as &lt; — decoding AFTER tag removal keeps it
    assert _one(spark, html.html_to_text, "x &lt;tag&gt; y") == "x <tag> y"


def test_plain_text_passthrough_modulo_whitespace(spark):
    assert _one(spark, html.html_to_text, "  plain\t text\n here ") == "plain text here"


# ---------------------------------------------------------------- title

def test_extract_title_first_occurrence_decoded(spark):
    doc = "<head><TITLE lang=en> A &amp; B </TITLE></head><title>second</title>"
    assert _one(spark, html.extract_title, doc) == "A & B"


def test_extract_title_missing_is_empty(spark):
    assert _one(spark, html.extract_title, "<p>no title</p>") == ""


# ---------------------------------------------------------------- links

def test_extract_links_both_quote_styles_in_order(spark):
    doc = (
        "<a href=\"http://a.com/1\">x</a><A CLASS=big HREF='http://b.com/2'>y</A>"
        "<a id=z href = \"/rel\">z</a><link href=\"http://not-anchor.com\">"
        "<a href=unquoted.html>skipped</a>"
    )
    got = _one(spark, html.extract_links, doc)
    assert got == ["http://a.com/1", "http://b.com/2", "/rel"]


def test_extract_links_quote_aware_no_truncation(spark):
    # a double-quoted href containing an apostrophe (and vice versa)
    # must survive intact — the old mixed ["'] class truncated at it
    doc = (
        "<a href=\"/say?q=it's\">1</a>"
        "<a href='/q?name=\"x\"'>2</a>"
        "<a href=\"\">empty drops</a>"
    )
    assert _one(spark, html.extract_links, doc) == ["/say?q=it's", '/q?name="x"']


def test_anchor_pairs_open_tag_href_wins_over_body(spark):
    # an href-bearing tag nested in the anchor body must not shadow the
    # anchor's own (single-quoted) href
    doc = "<a href='/real'>see <img href=\"/decoy\"> pic</a>"
    got = _one(spark, html.anchor_pairs, doc)
    assert [(p["href"], p["anchor"]) for p in got] == [("/real", "see pic")]


def test_hrefless_anchor_does_not_swallow_next_anchor(spark):
    # legacy fragment target: its element must not extend to the next
    # real anchor's </a> and eat it
    doc = '<a name="top">Intro <a href="/x">click</a>'
    got = _one(spark, html.anchor_pairs, doc)
    assert [(p["href"], p["anchor"]) for p in got] == [("/x", "click")]
    assert _one(spark, html.extract_links, doc) == ["/x"]


def test_data_href_does_not_impersonate_href(spark):
    doc = "<a data-href=\"/decoy\" href='/real'>t</a>"
    got = _one(spark, html.anchor_pairs, doc)
    assert [(p["href"], p["anchor"]) for p in got] == [("/real", "t")]
    assert _one(spark, html.extract_links, doc) == ["/real"]


def test_meta_description_first_occurrence_wins_across_quote_styles(spark):
    doc = (
        "<meta name=\"description\" content='first'>"
        '<meta name="description" content="second">'
    )
    assert _one(spark, html.extract_meta_description, doc) == "first"


def test_meta_description_with_apostrophe(spark):
    doc = '<meta name="description" content="Bob\'s site, &amp; more">'
    assert _one(spark, html.extract_meta_description, doc) == "Bob's site, & more"
    doc2 = "<meta name='description' content='say \"hi\"'>"
    assert _one(spark, html.extract_meta_description, doc2) == 'say "hi"'


def test_meta_description_bounded_tag_contract(spark):
    # the module-wide bounded contract: [^>]* stops at the first '>',
    # so a '>' inside a quoted value truncates the tag and the
    # description extracts as '' — NEVER as a span of following markup
    # (an unbalanced-quote page must not leak '<title>...' into the
    # description, and matching must stay O(tag))
    gt_inside = '<meta name="description" content="Home > Products">'
    assert _one(spark, html.extract_meta_description, gt_inside) == ""
    unbalanced = (
        '<meta name="description" content="broken desc><title>T</title>'
        '<p>19" monitor on sale</p>'
    )
    assert _one(spark, html.extract_meta_description, unbalanced) == ""


def test_meta_description_content_before_name_order(spark):
    doc = '<meta content="either order" name="description">'
    assert _one(spark, html.extract_meta_description, doc) == "either order"


def test_xhtml_xml_lang_is_recognized(spark):
    doc = '<html xmlns="http://www.w3.org/1999/xhtml" xml:lang="EN">x</html>'
    assert _one(spark, html.extract_lang, doc) == "en"
    # but data-lang still does not impersonate a language declaration
    assert _one(spark, html.extract_lang, '<html data-lang="fr">') == ""
    # HTML-spec precedence: plain lang beats xml:lang when both declared
    both = '<html lang="en" xml:lang="fr">'
    assert _one(spark, html.extract_lang, both) == "en"
    # an empty plain lang falls through to xml:lang (the extract's own
    # success is the gate — no prefix-rlike divergence)
    assert _one(spark, html.extract_lang, '<html lang="" xml:lang="fr">') == "fr"
    # an unclosed lang quote must fail cleanly, never read a markup
    # span through the tag boundary
    leak = '<html xml:lang="fr><body class="main">'
    assert ">" not in _one(spark, html.extract_lang, leak)


def test_extract_links_ignores_script_style_and_comments(spark):
    doc = (
        "<script>document.write('<a href=\"http://in-script.com/\">x</a>')</script>"
        "<!-- <a href='http://commented.com/'>y</a> -->"
        "<style>a { content: '<a href=\"http://in-style.com/\">' }</style>"
        "<a href='http://real.com/'>z</a>"
    )
    assert _one(spark, html.extract_links, doc) == ["http://real.com/"]


def test_resolve_link_branches(spark):
    df = spark.createDataFrame(
        [
            ("https://x.com/a/b", "http://other.org/p"),      # absolute: kept
            ("https://x.com/a/b", "//cdn.net/lib.js"),         # protocol-relative
            ("https://WWW.X.com:8080/a", "/about"),            # host-relative keeps www + port
            ("https://x.com/a/b", "../up.html"),               # path-relative: NULL
            ("https://x.com/a/b", "sub/page.html"),            # path-relative: NULL
            ("https://x.com/a/b", "mailto:a@b.c"),             # no ://, no /: NULL
            ("not-a-url", "/about"),                           # non-absolute base: NULL
            ("not-a-url", "http://abs.com/ok"),                # absolute survives bad base
        ],
        "base string, href string",
    )
    got = [
        r["o"]
        for r in df.select(html.resolve_link(F.col("href"), F.col("base")).alias("o")).collect()
    ]
    assert got == [
        "http://other.org/p",
        "https://cdn.net/lib.js",
        "https://www.x.com:8080/about",
        None,
        None,
        None,
        None,
        "http://abs.com/ok",
    ]


# ----------------------------------------------------- anchors + metadata

def _py_anchor_pairs(s: str):
    c = _py_strip_noncontent(s)
    out = []
    for elem in re.findall(r"""(?is)<a\b[^>]*[\s"']href\s*=[^>]*>.*?</a>""", c):
        href = _py_href_of(re.search(r"(?i)<a\b[^>]*>", elem).group(0))
        if not href:
            continue
        body = re.search(r"(?is)<a\b[^>]*>(.*)</a>", elem).group(1)
        t = _py_decode(re.sub(r"<[^>]*>", " ", body))
        out.append((href, re.sub(r"\s+", " ", t).strip()))
    return out


def test_anchor_pairs_alignment_and_cleaning(spark):
    doc = (
        "<a href='http://a.com/1'>One</a>"
        "<a class=x href=\"http://b.com/2\">Two <b>bold</b> &amp; more</a>"
        "<a href='http://unclosed.com/3'>no close"
    )
    got = _one(spark, html.anchor_pairs, doc)
    assert [(p["href"], p["anchor"]) for p in got] == [
        ("http://a.com/1", "One"),
        ("http://b.com/2", "Two bold & more"),
    ]


def test_anchor_text_corpus_resolves_and_drops_empties(spark):
    df = spark.createDataFrame(
        [
            (
                1,
                "https://site.com/p",
                "<a href='/rel'>Relative</a><a href='http://x.org/'>  </a>"
                "<a href='../skip'>Skipped</a><a href='//y.net/q'>Proto</a>",
            )
        ],
        "doc_id long, url string, html string",
    )
    rows = sorted(
        (r["target_url"], r["anchor_text"])
        for r in html.anchor_text_corpus(df).collect()
    )
    # empty anchor (x.org) and path-relative (../skip) drop
    assert rows == [
        ("https://site.com/rel", "Relative"),
        ("https://y.net/q", "Proto"),
    ]


def test_anchor_text_corpus_is_map_only(spark):
    df = spark.createDataFrame(
        [(1, "http://a.com/", "<a href='/x'>t</a>")],
        "doc_id long, url string, html string",
    )
    plan = plan_of(html.anchor_text_corpus(df))
    assert "Exchange" not in plan and "Join" not in plan


def test_extract_lang_and_charset_and_description(spark):
    doc = (
        '<html LANG="EN-us"><head><meta charset=UTF-8>'
        '<meta name="description" content="A &amp; B site">'
        "</head><body>x</body></html>"
    )
    assert _one(spark, html.extract_lang, doc) == "en-us"
    assert _one(spark, html.extract_charset, doc) == "utf-8"
    assert _one(spark, html.extract_meta_description, doc) == "A & B site"


def test_meta_absent_yields_empty(spark):
    doc = "<html><body>plain</body></html>"
    assert _one(spark, html.extract_lang, doc) == ""
    assert _one(spark, html.extract_charset, doc) == ""
    assert _one(spark, html.extract_meta_description, doc) == ""


def test_legacy_http_equiv_charset(spark):
    doc = '<meta http-equiv="Content-Type" content="text/html; charset=ISO-8859-1">'
    assert _one(spark, html.extract_charset, doc) == "iso-8859-1"


# --------------------------------------------------------- with_page_text

def test_with_page_text_columns(spark):
    df = spark.createDataFrame(
        [(1, "<html><title>T &amp; U</title><body><a href='http://a.com/'>x</a> hi</body></html>")],
        "doc_id long, html string",
    )
    row = html.with_page_text(df).collect()[0]
    assert row["title"] == "T & U"
    assert row["clean_text"] == "T & U x hi"
    assert row["n_links"] == 1


def test_with_page_text_is_map_only(spark):
    df = spark.createDataFrame([(1, "<p>x</p>")], "doc_id long, html string")
    plan = plan_of(html.with_page_text(df))
    assert "Exchange" not in plan and "Join" not in plan


# ----------------------------------------------------------- outlink graph

def _crawl_df(spark):
    pages = [
        # two pages on example.com; page 1 links partner.net twice,
        # page 2 once (n_links=3, n_pages=2); page 1 also links itself
        # (internal: dropped by default) and a path-relative doc (dropped)
        (
            1,
            "http://www.example.com/a",
            "<a href='https://WWW.Partner.NET:443/x'>1</a>"
            "<a href=\"//partner.net/y\">2</a>"
            "<a href='/self'>3</a><a href='rel.html'>4</a>",
        ),
        (
            2,
            "http://example.com/b",
            "<a href='http://news.partner.net/z'>5</a>",
        ),
        # a co.uk source: multi-label suffix on the src side
        (3, "https://blog.site.co.uk/p", "<a href='http://example.com/'>6</a>"),
        # page with a non-absolute URL: contributes nothing
        (4, "garbage", "<a href='http://example.com/'>7</a>"),
    ]
    return spark.createDataFrame(pages, "doc_id long, url string, html string")


def test_outlink_graph_edges(spark):
    got = {
        (r["src_domain"], r["dst_domain"]): (r["n_links"], r["n_pages"])
        for r in html.outlink_graph(_crawl_df(spark)).collect()
    }
    assert got == {
        ("example.com", "partner.net"): (3, 2),
        ("site.co.uk", "example.com"): (1, 1),
    }


def test_outlink_graph_include_internal(spark):
    got = {
        (r["src_domain"], r["dst_domain"]): (r["n_links"], r["n_pages"])
        for r in html.outlink_graph(_crawl_df(spark), include_internal=True).collect()
    }
    assert got[("example.com", "example.com")] == (1, 1)
    assert got[("example.com", "partner.net")] == (3, 2)


def test_outlink_graph_plan_no_joins_no_broadcast(spark):
    plan = plan_of(html.outlink_graph(_crawl_df(spark)))
    assert "Join" not in plan and "BroadcastExchange" not in plan
    # shuffle 1: dedup/count on the raw (src_host, dst_host, page)
    # triple over the link fan-out; then the domain regroup's two-phase
    # distinct aggregate (two cheap shuffles over the aggregated edges)
    assert plan.count("Exchange hashpartitioning") == 3
    assert "Generate explode" in plan
    assert "SortAggregate" not in plan
    # the registrable-domain mapping (recognizable by its public-suffix
    # INSET) must stay ABOVE the first aggregate, on materialized host
    # attributes — if Catalyst pushes the internal-edge filter down onto
    # the raw link rows, the inlined regex chains blow the 64 KB codegen
    # method limit and the whole raw stage falls back to interpreted
    # eval (see outlink_graph's anchored-predicate comment)
    raw_stage = plan.split("Exchange hashpartitioning")[-1]
    assert "INSET" not in raw_stage


def test_domain_pagerank_more_cited_domain_ranks_higher(spark):
    # 3 distinct pages cite hub.com; 1 page cites side.org
    pages = [
        (i, f"http://src{i}.com/p", "<a href='http://hub.com/'>h</a>") for i in range(3)
    ] + [(9, "http://src0.com/q", "<a href='http://side.org/'>s</a>")]
    df = spark.createDataFrame(pages, "doc_id long, url string, html string")
    ranks = {r["node"]: r["rank_micro"] for r in html.domain_pagerank(df).collect()}
    assert ranks["hub.com"] > ranks["side.org"]


# ------------------------------------------------------------------ fuzz

def test_html_to_text_fuzz_vs_python_model(spark):
    """Randomized documents built from adversarial fragments (unclosed
    scripts, fake links inside scripts, double-escaped entities, stray
    brackets) — Spark chain must agree with the independent re-module
    model on text, title, and links. One Spark job."""
    rng = random.Random(0xD0C5)
    frags = [
        "plain words here",
        "<p>para</p>",
        "<script>var a = 1 < 2;</script>",
        '<script src="x.js">fake <a href="http://no.com/">link</a></script>',
        "<style>a{x:1}</style>",
        "<!-- c1 --><!-- c2\nc3 -->",
        "<title>T &amp; U</title>",
        "&amp;lt;keep&amp;gt;",
        "&lt;literal&gt;",
        "<a href='http://x.org/1'>l</a>",
        '<A HREF="//proto.rel/2">l</A>',
        "<a href=bare>skip</a>",
        "<a href='http://z.io/p'>Deep <i>text</i> &amp; co</a>",
        "<a href='http://open.net/'>unclosed",
        "<div class='a b'>text</div>",
        "tail > stray bracket",
        "  \t\n whitespace  run ",
        "<b>bold</b><i>ital</i>",
    ]
    docs = [
        " ".join(rng.choice(frags) for _ in range(rng.randrange(1, 9))) for _ in range(200)
    ]
    df = spark.createDataFrame([(d,) for d in docs], "html string")
    rows = df.select(
        html.html_to_text(F.col("html")).alias("t"),
        html.extract_title(F.col("html")).alias("ti"),
        html.extract_links(F.col("html")).alias("ln"),
        html.anchor_pairs(F.col("html")).alias("ap"),
    ).collect()
    for doc, r in zip(docs, rows):
        assert r["t"] == _py_html_to_text(doc), doc
        assert r["ti"] == _py_title(doc), doc
        assert r["ln"] == _py_links(doc), doc
        assert [(p["href"], p["anchor"]) for p in r["ap"]] == _py_anchor_pairs(doc), doc


# --------------------------------------------------------- prepare_crawl

def test_prepare_crawl_composition(spark):
    """Crawl-to-corpus front half: markup renders, URL keys attach, and
    the canonical-URL min-id winner keeps its FULL row."""
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    pages = [
        # same canonical URL (tracker + case noise): id 1 wins, id 5 drops
        (1, "http://www.Site.com/a?gclid=x", "<html lang='en'><title>A</title><p>first capture</p></html>"),
        (5, "http://site.com/a", "<p>recrawl of a</p>"),
        (2, "https://other.org/b", "<a href='/x'>link</a><p>b text</p>"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, url string, html string")
    rows = {r["doc_id"]: r for r in prepare_crawl(df).collect()}
    assert set(rows) == {1, 2}
    w = rows[1]
    assert w["canonical_url"] == "http://site.com/a"
    assert w["domain"] == "site.com"
    assert w["clean_text"] == "A first capture"
    assert w["title"] == "A" and w["declared_lang"] == "en"
    assert rows[2]["n_links"] == 1 and rows[2]["clean_text"] == "link b text"


def test_prepare_crawl_feeds_prepare_corpus(spark):
    """The composed front half hands clean_text straight into the gated
    corpus-prep pipeline — the full crawl-to-training-corpus chain runs
    end to end on one graph."""
    from apache_cassandra_spark.analytics.pipeline import prepare_corpus, prepare_crawl

    words = "the quick brown fox jumps over a lazy dog near the old river bank today"
    pages = [
        (i, f"http://s{i % 7}.com/p{i}", f"<p>{words} doc {i} </p>")
        for i in range(40)
    ] + [(100, "http://s0.com/p0?utm_source=x", "<p>dup of p0</p>")]
    df = spark.createDataFrame(pages, "doc_id long, url string, html string")
    staged = prepare_crawl(df)
    out = prepare_corpus(
        staged.select("doc_id", F.col("clean_text").alias("text")),
        min_tokens=5, min_stop_hits=1,
    )
    ids = {r["doc_id"] for r in out.collect()}
    assert 100 not in ids          # URL-dup dropped before content work
    assert len(ids) > 0 and ids <= set(range(40))


def test_prepare_crawl_redirect_map_collapses_aliases(spark):
    """r12 verdict item 2: a capture whose URL is a redirect source must
    contend for its FINAL URL's canonical slot, not hold its own —
    alias pair merges to one slot, min-id across BOTH decides the
    winner; unresolved chains keep their own slot."""
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    pages = [
        # /old redirects to /new: ids 1 (old alias) and 4 (destination)
        # must share one slot; min-id 1 wins it
        (1, "http://site.com/old", "<p>stale capture via alias</p>"),
        (4, "http://site.com/new", "<p>destination capture</p>"),
        # /loop is an UNRESOLVED chain: keeps its own slot
        (2, "http://site.com/loop", "<p>loop page</p>"),
        (3, "https://other.org/b", "<p>b</p>"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, url string, html string")
    rmap = spark.createDataFrame(
        [
            ("http://site.com/old", "http://site.com/new", 1, True),
            ("http://site.com/loop", "http://site.com/loop2", 5, False),
        ],
        "url string, final_url string, n_hops int, resolved boolean",
    )
    rows = {r["doc_id"]: r for r in prepare_crawl(df, redirect_map=rmap).collect()}
    assert set(rows) == {1, 2, 3}          # 4 lost its slot to the alias
    assert rows[1]["canonical_url"] == "http://site.com/new"
    assert rows[1]["url"] == "http://site.com/old"  # winner keeps its row
    assert rows[2]["canonical_url"] == "http://site.com/loop"
    # tracker/case noise on the SOURCE side still collapses: the map is
    # joined in canonical space
    noisy = spark.createDataFrame(
        [(9, "http://www.Site.com/old?gclid=zz", "<p>noisy alias</p>")],
        "doc_id long, url string, html string",
    )
    rows2 = {
        r["doc_id"]: r
        for r in prepare_crawl(df.union(noisy), redirect_map=rmap).collect()
    }
    assert 9 not in rows2 and rows2[1]["canonical_url"] == "http://site.com/new"


def test_prepare_crawl_redirects_composed_from_warc_chain(spark, tmp_path):
    """Full discovery composition: warc.redirect_edges -> web.
    resolve_redirects -> prepare_crawl(redirect_map=...) — a 2-hop
    chain's head capture folds onto the chain tail's canonical slot."""
    from apache_cassandra_spark.analytics import web
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    edges = spark.createDataFrame(
        [
            ("http://s.com/a", "http://s.com/b"),
            ("http://s.com/b", "http://s.com/c"),
        ],
        "url string, redirect_to string",
    )
    rmap = web.resolve_redirects(edges, max_hops=5)
    got = {r["url"]: r for r in rmap.collect()}
    assert got["http://s.com/a"]["final_url"] == "http://s.com/c"
    assert got["http://s.com/a"]["resolved"]
    pages = spark.createDataFrame(
        [
            (7, "http://s.com/a", "<p>captured redirect head</p>"),
            (3, "http://s.com/c", "<p>the real page</p>"),
        ],
        "doc_id long, url string, html string",
    )
    out = {r["doc_id"]: r for r in prepare_crawl(pages, redirect_map=rmap).collect()}
    assert set(out) == {3}                 # min-id 3 wins the merged slot
    assert out[3]["canonical_url"] == "http://s.com/c"


def test_prepare_crawl_redirect_into_disallowed_destination(spark):
    """r13 verdict watch-edge, closed r14: a chain INTO a robots-
    disallowed final URL must DROP the alias row — its own URL passes
    the compliance filter, but its content is the destination's, and
    folding it onto a slot every direct capture was policy-dropped
    from would resurrect that slot through a side door. A chain into
    an ALLOWED destination still folds; without robots_rules the fold
    is unchanged."""
    from apache_cassandra_spark.analytics import robots
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    pages = [
        (1, "http://site.com/moved", "<p>alias of blocked page</p>"),
        (2, "http://site.com/blocked/x", "<p>direct capture, blocked</p>"),
        (3, "http://site.com/renamed", "<p>alias of open page</p>"),
        (4, "http://site.com/open/y", "<p>open page</p>"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, url string, html string")
    rmap = spark.createDataFrame(
        [
            ("http://site.com/moved", "http://site.com/blocked/x", 1, True),
            ("http://site.com/renamed", "http://site.com/open/y", 1, True),
        ],
        "url string, final_url string, n_hops int, resolved boolean",
    )
    rules = robots.parse_robots(
        spark.createDataFrame(
            [("site.com", "User-agent: *\nDisallow: /blocked/\n")],
            "domain string, robots_txt string",
        )
    )
    out = {
        r["doc_id"]: r
        for r in prepare_crawl(df, robots_rules=rules, redirect_map=rmap).collect()
    }
    # 2 dropped by the direct filter; 1 dropped by the destination
    # check; 3 folds onto /open/y and min-id wins that slot
    assert set(out) == {3}
    assert out[3]["canonical_url"] == "http://site.com/open/y"
    # without robots_rules the alias still folds onto the blocked slot
    bare = {r["doc_id"]: r for r in prepare_crawl(df, redirect_map=rmap).collect()}
    assert set(bare) == {1, 3}
    assert bare[1]["canonical_url"] == "http://site.com/blocked/x"


def test_prepare_crawl_redirect_fold_plan_shape(spark):
    """The fold's pair-winner is a row_number window (WindowGroupLimit-
    eligible), NOT a min(string)/min(struct) aggregate whose immutable
    buffer demotes to SortAggregate — with and without the
    destination-side robots check."""
    from apache_cassandra_spark.analytics import robots
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    df = spark.createDataFrame(
        [(1, "http://s.com/a", "<p>x</p>")], "doc_id long, url string, html string"
    )
    rmap = spark.createDataFrame(
        [("http://s.com/a", "http://s.com/b", 1, True)],
        "url string, final_url string, n_hops int, resolved boolean",
    )
    rules = robots.parse_robots(
        spark.createDataFrame(
            [("s.com", "User-agent: *\nDisallow: /z/\n")],
            "domain string, robots_txt string",
        )
    )
    for kw in (dict(redirect_map=rmap), dict(robots_rules=rules, redirect_map=rmap)):
        plan = prepare_crawl(df, **kw)._jdf.queryExecution().executedPlan().toString()
        assert "SortAggregate" not in plan
        assert "CartesianProduct" not in plan and "PythonUDF" not in plan
        assert "WindowGroupLimit" in plan


def test_prepare_crawl_plan_shape(spark):
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    df = spark.createDataFrame(
        [(1, "http://a.com/x", "<p>t</p>")], "doc_id long, url string, html string"
    )
    plan = plan_of(prepare_crawl(df))
    # one hash aggregate for the winners + the join back; never a
    # SortAggregate (no string-buffered max_by packing the wide text)
    assert "SortAggregate" not in plan
    assert "collect" not in plan.lower()


def test_prepare_crawl_null_url_and_id_drop_contract(spark):
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    df = spark.createDataFrame(
        [
            (1, "http://a.com/x", "<p>kept</p>"),
            (2, None, "<p>no url drops</p>"),
            (None, "http://a.com/y", "<p>no id drops</p>"),
        ],
        "doc_id long, url string, html string",
    )
    ids = {r["doc_id"] for r in prepare_crawl(df).collect()}
    assert ids == {1}


# ------------------------------------------------- cross-engine mirror

def test_html_chain_matches_duckdb_mirror_on_random_markup(spark):
    """The gate oracles replay the html chain in DuckDB (RE2) against
    Spark (Java regex) — but only over the synthetic gate markup. This
    fuzz runs BOTH engines over random adversarial fragments (mixed
    quotes, unclosed anchors, decoys, entities, double escapes), so an
    RE2-vs-Java semantic divergence in any shared construct ((?is),
    lazy spans, \\b, char classes) fails here, not in a driver round."""
    import duckdb

    from apache_cassandra_spark.gates.corpus import (
        _SQL_ANCHOR_TEXT_LIST,
        _SQL_HREF_LIST,
        _SQL_STRIP_NONCONTENT,
        _sql_decode_entities,
    )

    rng = random.Random(0xBEEF)
    frags = [
        "words &amp; things",
        "<script>var a = '<a href=\"http://s.com/\">';</script>",
        "<!-- <a href='http://c.com/'>x</a> -->",
        "<style>a{content:'>'}</style>",
        "<title>T &lt;1&gt;</title>",
        "<a href=\"/it's fine\">dq-apos</a>",
        "<a href='/say \"hi\"'>sq-quote</a>",
        "<a name=top>no href",
        "<a href='/u'>nested <b>bold</b> &amp;lt;esc</a>",
        "<A HREF=\"//p.net/X\">up</A>",
        "<a href=bare>skip</a>",
        "stray > bracket < here",
        "&amp;nbsp; &quot;q&quot;",
        "<div data-href=\"/fake\">attr</div>",
    ]
    docs = [" ".join(rng.choice(frags) for _ in range(rng.randrange(1, 8))) for _ in range(150)]

    got = spark.createDataFrame([(d,) for d in docs], "html string").select(
        html.html_to_text(F.col("html")).alias("clean_text"),
        html.extract_title(F.col("html")).alias("title"),
        F.size(html.extract_links(F.col("html"))).cast("long").alias("n_links"),
        F.array_join(
            F.transform(html.anchor_pairs(F.col("html")), lambda p: p.getField("anchor")), "|"
        ).alias("anchors_joined"),
    ).collect()

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i INTEGER, html VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(docs)))
    want = con.execute(f"""
        WITH sc AS (SELECT i, html, {_SQL_STRIP_NONCONTENT} AS content FROM t)
        SELECT trim(regexp_replace({_sql_decode_entities("regexp_replace(content, '<[^>]*>', ' ', 'g')")}, '\\s+', ' ', 'g')) AS clean_text,
               trim({_sql_decode_entities("regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1)")}) AS title,
               cast(len({_SQL_HREF_LIST}) AS bigint) AS n_links,
               coalesce(array_to_string({_SQL_ANCHOR_TEXT_LIST}, '|'), '') AS anchors_joined
        FROM sc ORDER BY i
    """).fetchall()

    for doc, g, w in zip(docs, got, want):
        assert (g["clean_text"], g["title"], g["n_links"], g["anchors_joined"]) == w, doc


# --- main-content extraction (densitometric block classifier) ---


def _main(spark, page, **kw):
    from apache_cassandra_spark.analytics import html as H

    df = spark.createDataFrame([(1, page)], "doc_id long, html string")
    return df.select(H.main_content(F.col("html"), **kw).alias("m")).collect()[0]["m"]


def test_main_content_drops_nav_sidebar_footer(spark):
    page = (
        '<html><body>'
        '<div><a href="/">Home</a> <a href="/a">About</a></div>'
        '<p>This body paragraph carries the actual story with more than eight words total.</p>'
        '<ul><li><a href="/r1">Related one</a></li><li><a href="/r2">Related two</a></li></ul>'
        '<div>Copyright 2013 <a href="/t">Terms</a> <a href="/p">Privacy</a></div>'
        '</body></html>'
    )
    m = _main(spark, page)
    assert m.startswith("This body paragraph carries")
    assert "Home" not in m and "Related" not in m and "Copyright" not in m


def test_main_content_min_words_boundary(spark):
    seven = "<p>one two three four five six seven</p>"
    eight = "<p>one two three four five six seven eight</p>"
    assert _main(spark, seven) == ""
    assert _main(spark, eight) == "one two three four five six seven eight"
    assert _main(spark, seven, min_words=7) == "one two three four five six seven"


def test_main_content_link_density_boundary_exact_third(spark):
    # 9 words, 3 inside the anchor: 3*3 <= 9 — exactly 1/3 KEEPS
    at_third = "<p>w1 w2 w3 w4 w5 w6 <a href='/x'>l1 l2 l3</a></p>"
    # 9 words, 4 linked: 3*4 > 9 — drops
    over = "<p>w1 w2 w3 w4 w5 <a href='/x'>l1 l2 l3 l4</a></p>"
    assert _main(spark, at_third) != ""
    assert _main(spark, over) == ""


def test_main_content_document_order_and_multiple_blocks(spark):
    page = (
        "<p>First paragraph has enough words to pass the content rule easily today.</p>"
        "<div><a href='/n'>nav nav nav</a></div>"
        "<p>Second paragraph also has enough words to pass the content rule fine.</p>"
    )
    m = _main(spark, page)
    assert m.index("First paragraph") < m.index("Second paragraph")
    assert "nav" not in m


def test_main_content_all_boilerplate_and_empty(spark):
    assert _main(spark, "<div><a href='/'>Home</a></div>") == ""
    assert _main(spark, "") == ""


def test_block_features_counts(spark):
    from apache_cassandra_spark.analytics import html as H

    df = spark.createDataFrame(
        [(1, "<p>alpha beta <a href='/x'>gamma</a></p><div><a href='/y'>delta</a></div>")],
        "doc_id long, html string",
    )
    rows = df.select(F.explode(H.block_features(F.col("html"))).alias("b")).select("b.*").collect()
    got = {(r["text"], r["words"], r["link_words"]) for r in rows}
    assert got == {("alpha beta gamma", 3, 1), ("delta", 1, 1)}


def test_main_content_is_map_only(spark):
    """The classifier must stay one codegen projection: no Exchange, no
    Generate, no Python in the plan."""
    from apache_cassandra_spark.analytics import html as H

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = (
        H.with_main_content(docs.withColumn("html", F.concat(F.lit("<p>"), "text", F.lit("</p>"))))
        ._jdf.queryExecution().executedPlan().toString()
    )
    for bad in ("Exchange", "Generate", "BatchEvalPython", "ArrowEvalPython"):
        assert bad not in plan, f"{bad} in main-content plan"


def test_prepare_crawl_main_content_only_composes(spark):
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    page = (
        '<html><body><div><a href="/">Home</a> <a href="/a">About</a> <a href="/c">C</a></div>'
        "<p>The real content paragraph of this page holds substantially more than eight words.</p>"
        '<div>Copyright 2013 <a href="/t">Terms</a> <a href="/p">Privacy</a></div></body></html>'
    )
    df = spark.createDataFrame([(1, "http://e.com/a", page)], "doc_id long, url string, html string")
    full = prepare_crawl(df).collect()[0]
    main = prepare_crawl(df, main_content_only=True).collect()[0]
    assert "Home" in full["clean_text"] and "Copyright" in full["clean_text"]
    assert main["clean_text"].startswith("The real content paragraph")
    assert "Home" not in main["clean_text"] and "Copyright" not in main["clean_text"]
    # whole-page metadata unchanged by the content swap
    assert main["n_links"] == full["n_links"] == 5


def test_prepare_crawl_robots_compliance_hook(spark):
    """Compliance composed into the front door (r11 verdict #5): with a
    robots_rules frame, disallowed pages drop between URL keying and
    the canonical dedup — so a policy-dropped page neither wins nor
    suppresses a canonical slot — and no-robots domains pass through."""
    from apache_cassandra_spark.analytics import robots
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    pages = [
        (1, "http://site.com/private/x", "<p>blocked</p>"),
        # ids 2 and 7 share a canonical slot; both sit under /private/
        # (same canonical path ⇒ same policy verdict, necessarily), so
        # the whole slot vanishes rather than leaving a ghost winner
        (2, "http://site.com/private/y", "<p>blocked first capture</p>"),
        (7, "http://site.com/private/y?utm_source=t", "<p>blocked recrawl</p>"),
        (3, "http://site.com/public/a", "<p>kept</p>"),
        (4, "http://norules.org/private/b", "<p>no robots for this domain</p>"),
    ]
    df = spark.createDataFrame(pages, "doc_id long, url string, html string")
    rules = robots.parse_robots(
        spark.createDataFrame(
            [("site.com", "User-agent: *\nDisallow: /private/\n")],
            "domain string, robots_txt string",
        )
    )
    got = {r["doc_id"] for r in prepare_crawl(df, robots_rules=rules).collect()}
    assert got == {3, 4}
    # same frame without rules: policy pages survive, min-id 2 wins its slot
    got = {r["doc_id"] for r in prepare_crawl(df).collect()}
    assert got == {1, 2, 3, 4}
