"""URL / domain operator semantics (analytics/web.py) — canonicalization
edge cases, eTLD+1 extraction, URL dedup tie convention, and the
domain_stats plan shape."""

import pytest
from pyspark.sql import functions as F

from apache_cassandra_spark.analytics import web


def _canon(spark, urls, **kwargs):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(web.canonicalize_url(F.col("url"), **kwargs).alias("c")).collect()
    return [r["c"] for r in rows]


def _hosts(spark, urls, **kwargs):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(web.extract_host(F.col("url"), **kwargs).alias("h")).collect()
    return [r["h"] for r in rows]


def _domains(spark, hosts):
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    rows = df.select(web.registrable_domain(F.col("host")).alias("d")).collect()
    return [r["d"] for r in rows]


def test_canonicalize_basic_normalizations(spark):
    out = _canon(
        spark,
        [
            "  HTTP://WWW.Example.COM/Path?utm_source=x&id=3#frag  ",
            "https://example.com:443/a",
            "http://example.com:80",
            "https://example.com",
        ],
    )
    assert out == [
        "http://example.com/Path?id=3",
        "https://example.com/a",
        "http://example.com/",
        "https://example.com/",
    ]


def test_canonicalize_non_absolute_passthrough(spark):
    # no scheme:// -> trimmed but otherwise untouched (mangling relative
    # URLs would corrupt joins against absolute-URL corpora)
    out = _canon(spark, [" /a/b?utm_source=x ", "example.com/page", "mailto:x@y.z"])
    assert out == ["/a/b?utm_source=x", "example.com/page", "mailto:x@y.z"]


def test_canonicalize_all_tracker_query_collapses_without_question_mark(spark):
    out = _canon(spark, ["http://a.com/p?utm_a=1&utm_b=2&gclid=z", "http://a.com/p?"])
    assert out == ["http://a.com/p", "http://a.com/p"]


def test_canonicalize_param_byte_sort(spark):
    a, b = _canon(spark, ["http://a.com/p?b=2&a=1&B=3", "http://a.com/p?B=3&a=1&b=2"])
    # ASCII byte order: 'B' (0x42) < 'a' (0x61) < 'b'
    assert a == "http://a.com/p?B=3&a=1&b=2"
    assert a == b


def test_canonicalize_non_default_port_kept(spark):
    # :80 on https / :8080 anywhere is a DIFFERENT origin — never stripped
    out = _canon(
        spark,
        ["https://a.com:80/p", "http://a.com:443/p", "http://a.com:8080/p"],
    )
    assert out == ["https://a.com:80/p", "http://a.com:443/p", "http://a.com:8080/p"]


def test_extract_host_agrees_with_canonical_url_on_ports(spark):
    # ADVICE r9: host/domain must never disagree with the host embedded in
    # canonical_url — default ports stripped, non-default ports kept
    urls = [
        "http://a.com:80/p",
        "https://a.com:443/p",
        "http://a.com:8080/p",
        "https://a.com:80/p",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = (
        df.select(
            web.extract_host(F.col("url")).alias("host"),
            F.regexp_extract(
                web.canonicalize_url(F.col("url")), r"^[a-z]+://([^/?#]*)", 1
            ).alias("embedded"),
        )
        .collect()
    )
    for r in rows:
        assert r["host"] == r["embedded"]
    assert [r["host"] for r in rows] == ["a.com", "a.com", "a.com:8080", "a.com:80"]


def test_extract_host_non_absolute_is_empty(spark):
    assert _hosts(spark, ["not a url", "/rel/path"]) == ["", ""]


def test_ref_param_kept_by_default_and_strippable_by_opt_in(spark):
    # bare ref selects content on many origins (?ref=<branch>) — keeping it
    # prevents dedup_urls collapsing distinct pages; ref_src IS a tracker
    url = "http://a.com/repo?ref=main&ref_src=twsrc"
    assert _canon(spark, [url]) == ["http://a.com/repo?ref=main"]
    custom = web.TRACKING_PARAMS + ("ref",)
    assert _canon(spark, [url], tracking_params=custom) == ["http://a.com/repo"]


def test_registrable_domain_cases(spark):
    got = _domains(
        spark,
        [
            "a.b.foo.co.uk",  # multi-label suffix -> one extra label
            "news.example.com",  # plain TLD -> last two labels
            "example.com",
            "co.uk",  # bare suffix -> returned whole
            "localhost",  # single label -> returned whole
            "",
        ],
    )
    assert got == ["foo.co.uk", "example.com", "example.com", "co.uk", "localhost", ""]


def test_dedup_urls_min_id_tie_convention(spark):
    rows = [
        (7, "http://www.a.com/p?utm_x=1"),
        (3, "HTTP://A.com/p"),
        (9, "http://a.com/p"),
        (5, "http://b.com/q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["canonical_url"]: (r["doc_id"], r["n_dups"]) for r in web.dedup_urls(df).collect()}
    assert out == {"http://a.com/p": (3, 3), "http://b.com/q": (5, 1)}


@pytest.fixture()
def webdocs(spark):
    rows = [
        (1, "http://www.a.com/x?utm_s=1", "the and of to a in is for quality text here"),
        (2, "http://a.com/x", "the and of to a in is for quality text here"),
        (3, "https://news.a.com/y", "!!! ??? ### $$$ %%%"),
        (4, "http://b.co.uk/z", "plain words in a short doc"),
    ]
    return spark.createDataFrame(rows, "doc_id long, url string, text string")


def test_domain_stats_semantics(spark, webdocs):
    out = {r["domain"]: r for r in web.domain_stats(webdocs).collect()}
    assert set(out) == {"a.com", "b.co.uk"}
    a = out["a.com"]
    assert a["n_docs"] == 3
    assert a["n_urls"] == 2  # docs 1+2 canonicalize identically
    assert a["n_keep"] <= a["n_docs"]
    assert out["b.co.uk"]["n_docs"] == 1


def test_url_revisions_semantics(spark):
    rows = [
        # same canonical URL, 3 crawls, content changes in crawl 2
        (1, 0, "http://a.com/p?utm_s=1", "version one"),
        (2, 1, "http://A.com/p", "version one"),
        (3, 2, "http://a.com/p", "version two"),
        # stable across 2 crawls
        (4, 0, "http://b.com/q", "same"),
        (5, 1, "http://b.com/q", "same"),
        # single capture
        (6, 2, "http://c.com/r", "only once"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, crawl long, url string, text string")
    out = {r["canonical_url"]: r for r in web.url_revisions(df).collect()}
    a = out["http://a.com/p"]
    assert (a["n_crawls"], a["n_versions"], a["changed"]) == (3, 2, True)
    assert (a["first_crawl"], a["last_crawl"]) == (0, 2)
    b = out["http://b.com/q"]
    assert (b["n_crawls"], b["n_versions"], b["changed"]) == (2, 1, False)
    c = out["http://c.com/r"]
    assert (c["n_crawls"], c["n_versions"], c["changed"]) == (1, 1, False)


def test_url_revisions_latest_fp_is_max_crawl_then_max_id(spark):
    # packed (crawl, id) ordering: crawl wins, id breaks ties within a crawl;
    # fingerprint contract = 60-bit md5 prefix as 15 lowercase hex chars
    rows = [
        (9, 0, "http://a.com/p", "old"),
        (1, 1, "http://a.com/p", "mid"),  # lower id but higher crawl
        (2, 1, "http://a.com/p", "late"),  # same crawl, higher id wins
    ]
    df = spark.createDataFrame(rows, "doc_id long, crawl long, url string, text string")
    import hashlib

    want = hashlib.md5(b"late").hexdigest()[:15]
    got = web.url_revisions(df).collect()[0]["latest_fp"]
    assert got == want


def test_url_revisions_null_text_counts_coverage_not_versions(spark):
    """NULL text = failed fetch: contributes crawl coverage but is not a
    content version, and latest_fp is the latest FINGERPRINTED version —
    count(distinct) and the packed max skip NULLs identically, so the
    contract is consistent across both aggregate paths (and both
    engines)."""
    import hashlib

    rows = [
        (1, 0, "http://a.com/p", "real content"),
        (2, 1, "http://a.com/p", None),  # crawl-2 fetch failed
    ]
    df = spark.createDataFrame(rows, "doc_id long, crawl long, url string, text string")
    r = web.url_revisions(df).collect()[0]
    assert (r["n_crawls"], r["n_versions"], r["changed"]) == (2, 1, False)
    assert (r["first_crawl"], r["last_crawl"]) == (0, 1)
    assert r["latest_fp"] == hashlib.md5(b"real content").hexdigest()[:15]


def test_url_revisions_plan_single_group_no_join(spark):
    from tests.test_plans import plan_of

    df = spark.createDataFrame(
        [(1, 0, "http://a.com/p", "x")], "doc_id long, crawl long, url string, text string"
    )
    plan = plan_of(web.url_revisions(df))
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BroadcastExchange" not in plan
    # two distincts ride one logical shuffle family via Expand
    assert "Expand" in plan
    # every aggregate buffer is numeric (domain rides in the group key,
    # latest-fp is a packed-decimal max) — the stack must stay HASH-based;
    # a string-buffered min/first/max_by silently degrades the whole
    # Expanded corpus stream to per-partition sorts
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan


def test_domain_stats_plan_single_hash_agg_no_broadcast(spark, webdocs):
    from tests.test_plans import plan_of

    plan = plan_of(web.domain_stats(webdocs))
    assert "BroadcastExchange" not in plan
    assert "CartesianProduct" not in plan
    # pre-aggregate path is ONE map-only projection: a single scan of the
    # input, no self-join of two projections
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") == 1
    # the single countDistinct plans as a two-level aggregate stack
    # (partial on (domain, canonical_url) -> final on domain): exactly two
    # hash exchanges, plus the final orderBy range exchange on the tiny
    # aggregated output — nothing else shuffles
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("Exchange rangepartitioning") == 1


def _py_canonicalize(url: str, tracking=web.TRACKING_PARAMS) -> str:
    """Independent pure-Python model of canonicalize_url (re module, no
    Spark) — the fuzz oracle. Mirrors the documented contract, not the
    Spark expression tree."""
    import re as _re

    u = url.strip()
    m = _re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://", u)
    if not m:
        return u
    scheme = m.group(1).lower()
    hostport = _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", u).group(1).lower()
    rest = _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", u).group(1)
    if scheme == "http":
        host = _re.sub(r":80$", "", hostport)
    elif scheme == "https":
        host = _re.sub(r":443$", "", hostport)
    else:
        host = hostport
    host = _re.sub(r"^www\.", "", host)
    path = _re.match(r"^([^?]*)", rest).group(1) or "/"
    qm = _re.match(r"^[^?]*\?(.*)", rest)
    query = qm.group(1) if qm else ""
    kept = sorted(
        p
        for p in query.split("&")
        if not (p == "" or p.split("=")[0].startswith("utm_") or p.split("=")[0] in tracking)
    )
    qtail = "?" + "&".join(kept) if kept else ""
    return f"{scheme}://{host}{path}{qtail}"


def test_canonicalize_url_fuzz_vs_python_model(spark):
    """280 structured pseudo-random URLs plus 6 fixed edge inputs
    (schemes incl. uppercase/odd,
    www/no-www, default/non-default/no port, 0-3 path segments, 0-5
    params drawn from trackers + real keys + valueless + empty, optional
    fragment, plus whitespace padding and plain junk for the
    non-absolute branch) — ONE Spark job, compared row-for-row against
    the independent re-based model."""
    import random

    rng = random.Random(0xC0FFEE)
    schemes = ["http", "https", "HTTP", "HtTpS", "ftp", "custom+v1.0"]
    hosts = ["example.com", "WWW.Example.COM", "a.b.foo.co.uk", "localhost", "x.y", "co.uk"]
    ports = ["", "", ":80", ":443", ":8080", ":000080"]
    keys = ["utm_source", "utm_x", "gclid", "ref", "ref_src", "a", "B", "id", "q", ""]
    frags = ["", "", "#frag", "#a?b=1"]
    urls = []
    for i in range(280):
        scheme = rng.choice(schemes)
        host = rng.choice(hosts)
        port = rng.choice(ports)
        segs = "/".join(rng.choice(["p", "Article", "x9"]) for _ in range(rng.randrange(4)))
        path = ("/" + segs) if segs else rng.choice(["", "/"])
        n = rng.randrange(6)
        params = "&".join(
            rng.choice(keys) + rng.choice(["=" + str(rng.randrange(9)), "=", ""])
            for _ in range(n)
        )
        q = ("?" + params) if n else rng.choice(["", "?"])
        pad = rng.choice(["", " ", "  "])
        urls.append(f"{pad}{scheme}://{host}{port}{path}{q}{rng.choice(frags)}{pad}")
    urls += ["", "   ", "not a url", "/rel/path?utm_x=1", "example.com/no-scheme", "a://"]

    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = [r["c"] for r in df.select(web.canonicalize_url(F.col("url")).alias("c")).collect()]
    want = [_py_canonicalize(u) for u in urls]
    mismatches = [(u, g, w) for u, g, w in zip(urls, got, want) if g != w]
    assert not mismatches, mismatches[:5]


def test_registrable_domain_fuzz_vs_python_model(spark):
    """Randomized hosts (0-5 labels over a small alphabet, multi-label
    suffixes planted both at the tail — where they must match — and
    mid-host — where they must NOT) vs an independent Python model of
    the documented rule: one label more than the longest matching
    public suffix; bare suffix / single label returned whole."""
    import random

    rng = random.Random(0xD041)

    def py_model(host: str) -> str:
        labels = host.split(".")
        n = len(labels)
        take = 3 if (n >= 3 and ".".join(labels[-2:]) in web.MULTI_SUFFIXES) else 2
        take = min(take, n)
        return ".".join(labels[n - take:])

    hosts = []
    atoms = ["a", "bb", "x9", "co", "uk", "com", "foo"]
    for _ in range(180):
        n = rng.randrange(6)
        labels = [rng.choice(atoms) for _ in range(n)]
        if labels and rng.random() < 0.5:
            suffix = rng.choice(web.MULTI_SUFFIXES).split(".")
            pos = rng.choice(["tail", "mid"])
            if pos == "tail":
                labels = labels[: max(0, n - 2)] + suffix
            else:
                labels = [labels[0]] + suffix + labels[1:]
        hosts.append(".".join(labels))
    hosts += ["", "co.uk", "a.co.uk", "co.uk.com", "x.co.uk.com"]

    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = [r["d"] for r in df.select(web.registrable_domain(F.col("host")).alias("d")).collect()]
    want = [py_model(h) for h in hosts]
    mismatches = [(h, g, w) for h, g, w in zip(hosts, got, want) if g != w]
    assert not mismatches, mismatches[:5]


def test_url_revisions_fuzz_vs_pandas_model(spark):
    """Randomized crawl table (120 rows, ~25 URL bases, 3 crawls, shared
    and unique texts, a few NULL texts) vs an independent pandas
    groupby model of the full contract — coverage counts, distinct
    versions, changed flag, packed-order latest fingerprint, NULL-skip
    semantics. One Spark job."""
    import hashlib
    import random

    import pandas as pd

    rng = random.Random(0xCAFE)
    rows = []
    for i in range(120):
        base = rng.randrange(25)
        url = f"http://site{base}.com/p?b=2&a=1&utm_x={rng.randrange(3)}"
        text = None if rng.random() < 0.08 else rng.choice(
            [f"stable {base}", f"v{rng.randrange(4)} of {base}", "shared boilerplate"]
        )
        rows.append((i, rng.randrange(3), url, text))
    df = spark.createDataFrame(rows, "doc_id long, crawl long, url string, text string")
    got = {r["canonical_url"]: r for r in web.url_revisions(df).collect()}

    pdf = pd.DataFrame(rows, columns=["doc_id", "crawl", "url", "text"])
    pdf["canon"] = pdf["url"].map(_py_canonicalize)
    for canon, g in pdf.groupby("canon"):
        fps = {
            hashlib.md5(t.encode()).hexdigest()[:15]
            for t in g["text"]
            if t is not None
        }
        with_fp = g[g["text"].notna()]
        want_latest = None
        if len(with_fp):
            ordk = with_fp["crawl"] * 2**40 + with_fp["doc_id"]
            row = with_fp.loc[ordk.idxmax()]
            want_latest = hashlib.md5(row["text"].encode()).hexdigest()[:15]
        r = got[canon]
        assert r["n_crawls"] == g["crawl"].nunique(), canon
        assert r["n_versions"] == len(fps), canon
        assert r["changed"] == (len(fps) > 1), canon
        assert r["first_crawl"] == g["crawl"].min() and r["last_crawl"] == g["crawl"].max()
        assert r["latest_fp"] == want_latest, canon
    assert len(got) == pdf["canon"].nunique()


def test_url_keys_match_duckdb_oracle_chain_on_random_urls(spark):
    """Cross-engine fuzz of the SHARED oracle CTE chain
    (gates.corpus._url_keys_ctes) against web.with_url_keys over randomized
    messy URLs — including the branches the synthetic gates never
    exercise: non-absolute inputs (passthrough), surrounding
    whitespace (trim), uppercase scheme/host, default and non-default
    ports, all-tracker queries, fragments, multi-label suffixes."""
    import random

    import duckdb

    from apache_cassandra_spark.gates.corpus import _url_keys_ctes

    rng = random.Random(0x0C0FFEE)
    schemes = ["http", "HTTP", "https", "HTTPS", "ftp"]
    hosts = ["www.Example.COM", "a.b.Foo.co.uk", "single", "news.site.org",
             "x.com.br", "cdn.media.NET"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/A/b", "/p?b=2&a=1", "/p?utm_a=1&gclid=z",
             "/p?ref=main&utm_b=2", "/x?b=2&a=1&B=3#frag", "#onlyfrag"]
    urls = []
    for _ in range(200):
        if rng.random() < 0.15:
            urls.append(rng.choice(["relative/path", "/rooted?utm_x=1",
                                    "mailto:a@b.c", "  spaced-not-url  ", ""]))
        else:
            u = (rng.choice(schemes) + "://" + rng.choice(hosts)
                 + rng.choice(ports) + rng.choice(paths))
            if rng.random() < 0.2:
                u = "  " + u + " "
            urls.append(u)

    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    got = {
        r["i"]: (r["canonical_url"], r["domain"])
        for r in web.with_url_keys(df).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE t (i BIGINT, url VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(urls)))
    want = dict(
        (i, (c, d))
        for i, c, d in con.execute(
            f"WITH u0 AS (SELECT i, url FROM t), {_url_keys_ctes('i')} "
            "SELECT i, canonical_url, domain FROM d ORDER BY i"
        ).fetchall()
    )
    mismatches = [(urls[i], got[i], want[i]) for i in got if got[i] != want[i]]
    assert not mismatches, mismatches[:5]


def test_parse_sitemap_urls_and_index(spark):
    xml = """<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url>
    <loc>http://e.com/page?a=1&amp;b=2</loc>
    <lastmod>2013-04-01</lastmod>
    <changefreq>daily</changefreq>
    <priority>0.8</priority>
  </url>
  <url><loc> http://e.com/min </loc></url>
</urlset>"""
    idx = """<sitemapindex><sitemap><loc>http://e.com/sitemap-2.xml</loc>
<lastmod>2013-05-05</lastmod></sitemap></sitemapindex>"""
    df = spark.createDataFrame(
        [("e.com", xml), ("e.com", idx)], "domain string, sitemap_xml string"
    )
    rows = {(r["kind"], r["loc"]): r for r in web.parse_sitemap(df).collect()}
    full = rows[("url", "http://e.com/page?a=1&b=2")]  # entity-decoded loc
    assert full["lastmod"] == "2013-04-01"
    assert full["changefreq"] == "daily"
    assert full["priority"] == 0.8
    minimal = rows[("url", "http://e.com/min")]  # whitespace trimmed
    assert minimal["lastmod"] == "" and minimal["priority"] is None
    child = rows[("sitemap", "http://e.com/sitemap-2.xml")]
    assert child["lastmod"] == "2013-05-05"
    assert len(rows) == 3


def test_parse_sitemap_is_single_projection_plus_explode(spark):
    df = spark.createDataFrame([("d", "<urlset/>")], "domain string, sitemap_xml string")
    plan = web.parse_sitemap(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_parse_sitemap_cdata_loc(spark):
    xml = "<urlset><url><loc><![CDATA[http://e.com/a?x=1&y=2]]></loc></url></urlset>"
    df = spark.createDataFrame([("e.com", xml)], "domain string, sitemap_xml string")
    got = web.parse_sitemap(df).collect()
    assert got[0]["loc"] == "http://e.com/a?x=1&y=2"  # CDATA content verbatim


def test_sitemap_xml_from_payload_gzip_and_plain(spark):
    """sitemap.org allows .xml.gz: gzip-magic payloads inflate (strict),
    plain bytes decode as UTF-8, corrupt gzip flags instead of killing
    the task — then parse_sitemap consumes the decoded column as-is."""
    import gzip

    xml = (
        '<urlset><url><loc>http://e.com/a</loc></url>'
        "<url><loc>http://e.com/b&amp;c</loc></url></urlset>"
    )
    rows = [
        ("gz.com", gzip.compress(xml.encode())),
        ("plain.com", xml.encode()),
        ("bad.com", b"\x1f\x8b\x08\x00 corrupt gz"),
    ]
    df = spark.createDataFrame(rows, "domain string, payload binary")
    dec = web.sitemap_xml_from_payload(df)
    got = {r["domain"]: r for r in dec.collect()}
    assert got["gz.com"]["sitemap_xml"] == xml and got["gz.com"]["sitemap_decode_error"] is None
    assert got["plain.com"]["sitemap_xml"] == xml
    assert got["bad.com"]["sitemap_xml"] is None
    assert got["bad.com"]["sitemap_decode_error"]
    locs = {r["loc"] for r in web.parse_sitemap(dec).collect()}
    assert locs == {"http://e.com/a", "http://e.com/b&c"}


def test_fetch_schedule_politeness_pacing(spark):
    """Per-domain queue positions and fetch offsets: crawl_delays-paced
    domains use their delay, absent domains the default, priority
    reorders the queue, and the composition from robots.crawl_delays
    wires end to end."""
    from apache_cassandra_spark.analytics import robots

    pages = spark.createDataFrame(
        [
            (1, "a.com", 5), (2, "a.com", 1), (3, "a.com", 1),
            (4, "b.org", 0), (5, "b.org", 0),
        ],
        "doc_id long, domain string, prio int",
    )
    delays = robots.crawl_delays(
        spark.createDataFrame(
            [("a.com", "User-agent: *\nCrawl-delay: 2.5\n")],
            "domain string, robots_txt string",
        )
    )
    out = {r["doc_id"]: r for r in web.fetch_schedule(
        pages, delays, default_delay=1.0, priority_col="prio"
    ).collect()}
    # a.com queue by (prio, id): 2, 3, 1 -> seq 0, 1, 2 at 2.5s pace
    assert (out[2]["fetch_seq"], out[3]["fetch_seq"], out[1]["fetch_seq"]) == (0, 1, 2)
    assert out[1]["fetch_at_sec"] == 5.0 and out[3]["fetch_at_sec"] == 2.5
    # b.org has no directive -> default 1.0s pace
    assert (out[4]["fetch_at_sec"], out[5]["fetch_at_sec"]) == (0.0, 1.0)
    # no delays frame at all
    out2 = web.fetch_schedule(pages.drop("prio"), None, default_delay=0.5).collect()
    assert {(r["domain"], r["fetch_seq"], r["fetch_at_sec"]) for r in out2} >= {
        ("a.com", 0, 0.0), ("a.com", 2, 1.0), ("b.org", 1, 0.5)}
    # input columns pass through untouched
    assert set(out[1].asDict()) == {"doc_id", "domain", "prio", "fetch_seq", "fetch_at_sec"}


def test_resolve_redirects_chains_cycles_and_budget(spark):
    """Chains follow to the end, cycles exhaust the hop budget and flag
    resolved=False, duplicate captures pick a deterministic target, and
    NULL targets drop."""
    rows = [
        ("a", "b"), ("b", "c"), ("c", "d"),          # 3-hop chain -> d
        ("x", "y"), ("y", "x"),                        # 2-cycle
        ("solo", "end"),                               # 1 hop
        ("dup", "t2"), ("dup", "t1"),                  # duplicate capture
        ("relnull", None),                              # dropped
    ]
    df = spark.createDataFrame(rows, "url string, redirect_to string")
    got = {r["url"]: r for r in web.resolve_redirects(df, max_hops=5).collect()}
    assert set(got) == {"a", "b", "c", "x", "y", "solo", "dup"}
    assert (got["a"]["final_url"], got["a"]["n_hops"], got["a"]["resolved"]) == ("d", 3, True)
    assert got["b"]["final_url"] == "d" and got["b"]["n_hops"] == 2
    assert got["solo"] and got["solo"]["final_url"] == "end" and got["solo"]["resolved"]
    assert got["dup"]["final_url"] == "t1"  # min() target, deterministic
    # the cycle burns the whole budget and stays unresolved
    assert got["x"]["n_hops"] == 5 and got["x"]["resolved"] is False
    assert got["y"]["resolved"] is False


def test_resolve_redirects_hop_boundary_exactness(spark):
    """r12 verdict item 7: budget edges AT the hop boundary. A chain of
    length exactly max_hops resolves with n_hops == max_hops; one link
    longer is unresolved having consumed the whole budget; a self-loop
    burns the budget without moving."""
    chain = [(f"u{i}", f"u{i+1}") for i in range(6)] + [("loop", "loop")]
    df = spark.createDataFrame(chain, "url string, redirect_to string")
    for mh in (1, 2, 5, 6):
        got = {r["url"]: r for r in web.resolve_redirects(df, max_hops=mh).collect()}
        # u{6-mh} is exactly mh hops from the terminal u6
        head = f"u{6 - mh}"
        assert (got[head]["final_url"], got[head]["n_hops"], got[head]["resolved"]) == (
            "u6", mh, True), (mh, dict(got[head].asDict()))
        if 6 - mh - 1 >= 0:  # one longer than the budget
            over = f"u{6 - mh - 1}"
            assert got[over]["resolved"] is False and got[over]["n_hops"] == mh
        assert got["loop"]["resolved"] is False and got["loop"]["final_url"] == "loop"
        assert got["loop"]["n_hops"] == mh


def test_resolve_redirects_fuzz_vs_python_chase_model(spark):
    """Randomized functional redirect graphs (chains, trees, cycles,
    rho shapes, duplicate captures) against an independent Python chase
    model with the same semantics: min-target per source, follow at
    most max_hops links, resolved ⇔ the stop node is not a source."""
    import random as _random

    rnd = _random.Random(1313)
    for trial in range(4):
        n = rnd.randint(5, 30)
        nodes = [f"n{i}" for i in range(n)]
        rows = []
        for u in nodes:
            for _ in range(rnd.randint(0, 2)):
                rows.append((u, rnd.choice(nodes + [None])))
        rows = [r for r in rows if rnd.random() < 0.9] or [("n0", "n1")]
        mh = rnd.randint(1, 6)
        df = spark.createDataFrame(rows, "url string, redirect_to string")
        got = {r["url"]: (r["final_url"], r["n_hops"], r["resolved"])
               for r in web.resolve_redirects(df, max_hops=mh).collect()}
        emap = {}
        for u, v in rows:
            if v is not None:
                emap[u] = min(emap.get(u, v), v)
        want = {}
        for u in emap:
            cur, hops = u, 0
            while hops < mh and cur in emap:
                cur = emap[cur]
                hops += 1
            want[u] = (cur, hops, cur not in emap)
        assert got == want, (trial, mh, sorted(rows))


def test_fetch_schedule_deterministic_under_priority_ties(spark):
    """r12 verdict item 7: when every page shares one priority, the
    queue falls back to id order — identical output across input
    orderings and partitionings (row_number over a TOTAL order, no
    nondeterministic tie)."""
    rows = [(i, "big.com", 7) for i in range(40)] + [(100 + i, "small.org", 7) for i in range(3)]
    df1 = spark.createDataFrame(rows, "doc_id long, domain string, prio int").repartition(8)
    df2 = spark.createDataFrame(list(reversed(rows)), "doc_id long, domain string, prio int").repartition(3)
    s1 = {r["doc_id"]: (r["fetch_seq"], r["fetch_at_sec"])
          for r in web.fetch_schedule(df1, None, default_delay=2.0, priority_col="prio").collect()}
    s2 = {r["doc_id"]: (r["fetch_seq"], r["fetch_at_sec"])
          for r in web.fetch_schedule(df2, None, default_delay=2.0, priority_col="prio").collect()}
    assert s1 == s2
    # ties broke on id: queue position == rank of id within the domain
    assert [s1[i][0] for i in range(40)] == list(range(40))
    assert s1[0] == (0, 0.0) and s1[39] == (39, 78.0)
    assert s1[100] == (0, 0.0) and s1[102] == (2, 4.0)


def test_plan_frontier_composition(spark):
    """Discovery front door end to end: canonical dedup with best
    priority, crawled anti-join in canonical space, robots compliance,
    and politeness pacing — one frontier plan from mixed discovery
    sources."""
    from apache_cassandra_spark.analytics import robots

    cands = spark.createDataFrame(
        [
            # same canonical page via tracker/case noise: min prio wins
            ("http://www.A.com/page?gclid=x", 5),
            ("http://a.com/page", 2),
            ("http://a.com/other", 1),
            ("http://a.com/private/x", 1),       # robots-disallowed
            ("http://a.com/seen?utm_source=s", 1),  # already crawled
            ("http://b.org/new", 3),
            (None, 9),
        ],
        "url string, prio int",
    )
    crawled = spark.createDataFrame([("http://a.com/seen",)], "url string")
    rules = robots.parse_robots(
        spark.createDataFrame(
            [("a.com", "User-agent: *\nDisallow: /private/\nCrawl-delay: 2\n")],
            "domain string, robots_txt string",
        )
    )
    delays = robots.crawl_delays(
        spark.createDataFrame(
            [("a.com", "User-agent: *\nCrawl-delay: 2\n")],
            "domain string, robots_txt string",
        )
    )
    out = {r["canonical_url"]: r for r in web.plan_frontier(
        cands, crawled=crawled, robots_rules=rules, delays=delays,
        priority_col="prio", default_delay=1.0,
    ).collect()}
    assert set(out) == {"http://a.com/page", "http://a.com/other", "http://b.org/new"}
    page = out["http://a.com/page"]
    assert page["prio"] == 2                          # best priority won
    assert page["url"] == "http://a.com/page"          # deterministic rep (min url)
    # a.com queue by (prio, canonical): other(1) then page(2), 2s pace
    assert (out["http://a.com/other"]["fetch_seq"], page["fetch_seq"]) == (0, 1)
    assert page["fetch_at_sec"] == 2.0
    assert out["http://b.org/new"]["fetch_at_sec"] == 0.0  # default pace, own queue
    # no crawled/robots/delays: pure dedup + schedule, columns stable
    bare = web.plan_frontier(cands, priority_col="prio").collect()
    assert {r["canonical_url"] for r in bare} == {
        "http://a.com/page", "http://a.com/other", "http://a.com/private/x",
        "http://a.com/seen", "http://b.org/new"}
    assert set(bare[0].asDict()) == {
        "canonical_url", "url", "host", "domain", "prio", "fetch_seq", "fetch_at_sec"}


def test_plan_frontier_feeds_from_discovery_outputs(spark, tmp_path):
    """The real wiring: sitemap entries + resolve_redirects finals as
    candidates, prepare_crawl's output as the crawled set."""
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    sm = web.parse_sitemap(spark.createDataFrame(
        [("s.com", "<urlset><url><loc>http://s.com/from-sitemap</loc></url>"
          "<url><loc>http://s.com/captured</loc></url></urlset>")],
        "domain string, sitemap_xml string",
    ))
    rmap = web.resolve_redirects(spark.createDataFrame(
        [("http://s.com/old", "http://s.com/from-redirect")],
        "url string, redirect_to string",
    ))
    cands = sm.select(F.col("loc").alias("url")).union(
        rmap.where("resolved").select(F.col("final_url").alias("url"))
    )
    pages = spark.createDataFrame(
        [(1, "http://s.com/captured", "<p>done</p>")],
        "doc_id long, url string, html string",
    )
    crawled = prepare_crawl(pages).select("url")
    got = {r["canonical_url"] for r in web.plan_frontier(cands, crawled=crawled).collect()}
    assert got == {"http://s.com/from-sitemap", "http://s.com/from-redirect"}


def test_plan_frontier_plan_shape(spark):
    cands = spark.createDataFrame([("http://a.com/x", 1)], "url string, prio int")
    crawled = spark.createDataFrame([("http://a.com/y",)], "url string")
    df = web.plan_frontier(cands, crawled=crawled, priority_col="prio")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "PythonUDF" not in plan
    assert "SortAggregate" not in plan


def test_plan_frontier_winner_ties(spark):
    """r13 verdict watch-edge: the per-canonical winner under EQUAL
    priority across different raw sightings must fall to the url
    tie-break (lexicographically smallest raw url), and an exact
    (priority, url) tie — identical duplicate sightings — must
    collapse to one row with output independent of input order (all
    output columns are functions of (canonical_url, priority, url), so
    whichever tied row row_number picks, the row is the same)."""
    rows = [
        ("http://a.com/p?gclid=2", 1),
        ("http://a.com/p?gclid=1", 1),   # equal prio -> min url wins
        ("http://b.org/q", 2),
        ("http://b.org/q", 2),           # exact duplicate sighting
    ]
    for perm in (rows, rows[::-1]):
        cands = spark.createDataFrame(perm, "url string, prio int")
        out = {r["canonical_url"]: r for r in web.plan_frontier(
            cands, priority_col="prio").collect()}
        assert set(out) == {"http://a.com/p", "http://b.org/q"}
        assert out["http://a.com/p"]["url"] == "http://a.com/p?gclid=1"
        assert out["http://a.com/p"]["prio"] == 1
        assert out["http://b.org/q"]["fetch_seq"] == 0


def test_resolve_redirects_composes_from_warc(spark, tmp_path):
    """warc.redirect_edges -> resolve_redirects end to end on a real
    two-hop captured chain."""
    from apache_cassandra_spark.sources import warc as W

    def _redir(location, uri):
        env = (b"HTTP/1.1 301 Moved Permanently\r\nLocation: " + location
               + b"\r\nContent-Length: 0\r\n\r\n")
        return (b"WARC/1.0\r\nWARC-Type: response\r\n"
                b"WARC-Record-ID: <urn:uuid:1>\r\n"
                b"WARC-Target-URI: " + uri + b"\r\n"
                b"WARC-Date: 2013-01-01T00:00:00Z\r\n"
                b"Content-Type: application/http; msgtype=response\r\n"
                b"Content-Length: " + str(len(env)).encode() + b"\r\n\r\n"
                + env + b"\r\n\r\n")

    p = tmp_path / "chain.warc"
    p.write_bytes(
        _redir(b"http://e.com/mid", b"http://e.com/start")
        + _redir(b"/final", b"http://e.com/mid")
    )
    edges = W.redirect_edges(W.read_warc(spark, str(p)))
    got = {r["url"]: r for r in web.resolve_redirects(edges).collect()}
    assert got["http://e.com/start"]["final_url"] == "http://e.com/final"
    assert got["http://e.com/start"]["n_hops"] == 2 and got["http://e.com/start"]["resolved"]
