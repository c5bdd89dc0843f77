"""Scale probe: measure how the headline analytics operators scale as the
corpus grows, on fixed parallelism.

Replicates the sf0.1 documents/embeddings tables k× (k = 1, 8, 64) with
deterministic perturbation — every 10th replica is byte-identical (exact
dups at scale), the rest get a replica-suffix token (near-dups) — then
times each operator and reports rows/sec and the empirical scaling
exponent  α = log(t_k / t_1) / log(k).  α ≈ 1 is linear (what a
shuffle-bounded operator should show on fixed cores); α ≫ 1 means a
super-linear blowup that would sink a 100 TB run.

Writes one JSON line; SCALE.md holds the narrated results.

Usage: python tools/scale_probe.py [k ...]
       SPARK_GRAFT_PROBE_OPS=op1,op2 python tools/scale_probe.py [k ...]
(the env var restricts the run to the named ops — a full sweep is hours)
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_cassandra_spark.analytics import dedup, multimodal, pipeline, text
from apache_cassandra_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicated_docs(spark, k: int) -> DataFrame:
    """k copies of documents with unique doc_ids; replica 0 is the
    original, replicas r>0 perturb the text unless doc_id % 10 == 0."""
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    n = 1_000_000  # id stride per replica
    reps = base.crossJoin(spark.range(k).withColumnRenamed("id", "rep"))
    return reps.select(
        (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
        F.when(
            (F.col("rep") > 0) & (F.col("doc_id") % 10 != 0),
            F.concat(F.col("text"), F.lit(" r"), F.col("rep").cast("string")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def _multiline(d: DataFrame) -> DataFrame:
    """3-line form with a boilerplate line shared by EVERY document — the
    line-dedup worst case (one line with corpus-cardinality occurrence)."""
    return d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 80),
            F.lit("shared boilerplate line planted in every probe document"),
            F.expr("substring(text, 81)"),
        ).alias("text"),
    )


def _decontaminate(d: DataFrame) -> int:
    from apache_cassandra_spark.analytics.pipeline import contamination_flags

    ev = d.where(F.col("doc_id") % 1000 == 0)  # same base docs per replica
    tr = d.where(F.col("doc_id") % 1000 != 0)
    return contamination_flags(tr, ev, n=3).count()


def _shard_write(d: DataFrame) -> int:
    import shutil
    import tempfile

    from apache_cassandra_spark.sources import corpus as corpus_io

    out = tempfile.mkdtemp(prefix="probe_shards_")
    try:
        corpus_io.write_sharded(d, out, key_col="doc_id", n_shards=32, fmt="parquet")
        return d.count()
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _agg_probe(frame: DataFrame, *aggs) -> None:
    """Bind-then-collect: ``frame`` may OWN cached intermediates
    (owned_cache finalizer) — chaining ``.agg()`` off the unreferenced
    result lets GC unpersist them before the action runs, and the probe
    then times the cache-dead double-scan plan (the r10
    domain_boilerplate harness lesson, generalized to every site)."""
    frame.agg(*aggs).collect()


OPS = {
    "dedup_exact": lambda d: dedup.exact_dup_groups(d).count(),
    # target = replica 0's every-37th doc (FIXED size as the corpus
    # grows — the realistic DSIR regime: small domain sample, growing
    # raw pool); aggregate the weight column so scoring isn't pruned
    "corpus_dsir_weights": lambda d: pipeline.dsir_log_weights(
        d.where(~((F.col("doc_id") < 1_000_000) & (F.col("doc_id") % 37 == 0))),
        d.where((F.col("doc_id") < 1_000_000) & (F.col("doc_id") % 37 == 0)),
        buckets=512,
    )
    .agg(F.sum("logw_micro"), F.sum("n_feats"))
    .collect()
    and d.count(),
    "tpch_q21ish": lambda d: _q21_op(d),
    # history (the replicated corpus) grows 1->64x, the probing batch
    # stays FIXED at replica 0 — the daily-ingest regime; both returned
    # frames materialized so neither plan is pruned away
    "dedup_minhash_incremental": lambda d: _minhash_incr_op(d),
    "dedup_minhash_lsh": lambda d: dedup.minhash_lsh_candidates(d).count(),
    "dedup_simhash": lambda d: dedup.simhash_candidates(d).count(),
    "dedup_groups_star": lambda d: dedup.dup_groups_star(dedup.minhash_lsh_candidates(d)).count(),
    "text_repetition": lambda d: text.repetition_features(d).count(),
    "text_gopher": lambda d: text.gopher_quality(d).count(),
    "text_tfidf": lambda d: text.tfidf_top_terms(d).count(),
    "media_decode": lambda d: multimodal.decode_media(multimodal.media_from_documents(d)).count(),
    "media_decode_png": lambda d: multimodal.decode_media(multimodal.png_media_from_documents(d)).count(),
    "dedup_lines": lambda d: dedup.remove_duplicate_lines(_multiline(d), min_chars=5).count(),
    "decontaminate": _decontaminate,
    "corpus_shard_write": _shard_write,
    "corpus_chunk": lambda d: __import__(
        "apache_cassandra_spark.analytics.pipeline", fromlist=["chunk_documents"]
    ).chunk_documents(d, window=32, stride=24).count(),
    # count() would column-prune the whole projection away (no shuffle to
    # anchor it) — aggregate an output column so the dedup actually runs
    "dedup_within_doc": lambda d: dedup.dedup_within_doc(_multiline(d))
    .agg(F.sum("n_dropped"), F.sum(F.length("text")))
    .collect()
    and d.count(),
    # replicas make every window of a %10 doc k-hot; aggregate the output
    # columns so the reassembly is not pruned away
    "dedup_spans": lambda d: dedup.dedup_spans(d, k=8)
    .agg(F.sum("n_removed"), F.sum(F.length("text")))
    .collect()
    and d.count(),
    "media_audio_features": lambda d: multimodal.audio_features(
        d.select(
            F.col("doc_id").alias("media_id"),
            multimodal.synthetic_wav_sawtooth_payload(F.col("doc_id")).alias("payload"),
        )
    ).count(),
    "media_frame_sample": lambda d: multimodal.sample_frames(
        d.select(
            F.col("doc_id").alias("media_id"),
            multimodal.synthetic_video_payload(F.col("doc_id")).alias("payload"),
        )
    ).count(),
    "text_bpe_encode": lambda d: text.bpe_token_counts(
        d, [("e", "r"), ("i", "n"), ("s", "t"), ("t", "a"), ("ta", "b"), ("tab", "l")]
    ).count(),
    # zipf head: 90% of rows share one key — the shape salting exists for
    "salted_agg": lambda d: __import__(
        "apache_cassandra_spark.functions.skew", fromlist=["salted_agg"]
    ).salted_agg(
        d.select("doc_id", F.when(F.col("doc_id") % 10 < 9, "hot")
                 .otherwise((F.col("doc_id") % 97).cast("string")).alias("k"),
                 F.length("text").cast("double").alias("v")),
        ["k"], {"n": ("count", "doc_id"), "s": ("sum", "v")}, n_salts=16, salt_on="doc_id",
    ).count(),
    "corpus_overlap": lambda d: __import__(
        "apache_cassandra_spark.analytics.pipeline", fromlist=["contamination_overlap"]
    ).contamination_overlap(
        d.where(F.col("doc_id") % 1000 != 0), d.where(F.col("doc_id") % 1000 == 0), n=3
    ).count(),
    "embedding_quantize": lambda d: _emb_op(d, "quantize"),
    "embedding_project": lambda d: _emb_op(d, "project"),
    # aggregate the ppm column so the doc-freq join isn't pruned to a bare count
    "ngram_novelty": lambda d: dedup.ngram_novelty(d)
    .agg(F.sum("novelty_ppm"))
    .collect()
    and d.count(),
    "zscore_outliers": lambda d: _events_op(d, "zscore"),
    "distinct_exact": lambda d: _events_op(d, "exact"),
    "distinct_hll": lambda d: _events_op(d, "hll"),
    # round 7: the two interleave paths over a 50-source synthetic catalog
    # (aggregate global_pos so the position formula isn't pruned away)
    "interleave": lambda d: _interleave_op(d, fold_literals=True),
    "interleave_joins": lambda d: _interleave_op(d, fold_literals=False),
    # disjoint 1000-node community blocks: block count scales with the
    # corpus, density constant — triangles grow linearly by construction,
    # so α measures the plan, not the output blowup
    "triangle_counts": lambda d: _triangles_op(d),
    "gap_fill": lambda d: _gapfill_op(d),
    "heavy_hitters": lambda d: _events_op(d, "hh"),
    "char_entropy": lambda d: __import__(
        "apache_cassandra_spark.analytics.text", fromlist=["char_entropy"]
    ).char_entropy(d).agg(F.sum("sum_clnc_micro")).collect() and d.count(),
    "range_search": lambda d: _range_search_op(d),
    # round 7 pre-build: k-core peel over block-structured graphs (block
    # count scales, density constant — like the triangles probe) and the
    # PPJoin prefix filter vs the naive inverted-index join (same output
    # by the losslessness theorem, so the delta is pure plan cost)
    "kcore": lambda d: _kcore_op(d),
    "coreness": lambda d: _coreness_op(d),
    # round 10: densifying-graph twins (fixed 1k nodes, edges scale k×) —
    # the block-graph rows above hold density constant; these measure the
    # density response directly (coreness per-round join = the suspect)
    "triangles_dense": lambda d: _dense_graph_op(d, "triangles"),
    "coreness_dense": lambda d: _dense_graph_op(d, "coreness"),
    "clustering_coeff_dense": lambda d: _dense_graph_op(d, "cc"),
    # round 10: web family (canonicalization chain + the two aggregates)
    "web_domain_stats": lambda d: _web_op(d, "domain_stats"),
    "web_url_revisions": lambda d: _web_op(d, "url_revisions"),
    "web_dedup_urls": lambda d: _web_op(d, "dedup_urls"),
    # round 10: html family (markup strip / anchor harvest / outlink
    # aggregate) + the WET interchange round trip (IO-inclusive)
    "html_page_text": lambda d: _html_op(d, "page_text"),
    "html_outlink_graph": lambda d: _html_op(d, "outlink_graph"),
    "html_anchor_corpus": lambda d: _html_op(d, "anchor_corpus"),
    "wet_roundtrip": lambda d: _wet_op(d),
    "bm25_topk": lambda d: _bm25_op(d),
    "prepare_crawl": lambda d: _prepare_crawl_op(d),
    "domain_boilerplate": lambda d: _boilerplate_op(d),
    "prefix_jaccard": lambda d: _agg_probe(
        dedup.prefix_jaccard_pairs(d, threshold=0.5), F.sum("jaccard")
    ) or d.count(),
    "ngram_jaccard_naive": lambda d: _agg_probe(
        dedup.ngram_jaccard_pairs(d, threshold=0.5, max_doc_freq=None),
        F.sum("jaccard"),
    ) or d.count(),
    # boilerplate regime at the near-dup threshold (0.8): a 12-token
    # footer shared by EVERY document — the Σ df² blowup the prefix
    # filter exists for. The naive join pays ~10·n²/2 pair rows through
    # the footer shingles REGARDLESS of threshold (the join is
    # threshold-blind); the prefix at t=0.8 keeps only each doc's rarest
    # ~20%, which the corpus-wide footer shingles never enter. At t=0.5
    # the prefix is half the document and short docs pull footer
    # shingles into it — measured, see SCALE.md: PPJoin is a
    # HIGH-threshold optimization.
    "prefix_jaccard_boiler": lambda d: _agg_probe(
        dedup.prefix_jaccard_pairs(_boiler(d), threshold=0.8), F.sum("jaccard")
    ) or d.count(),
    "ngram_jaccard_naive_boiler": lambda d: _agg_probe(
        dedup.ngram_jaccard_pairs(_boiler(d), threshold=0.8, max_doc_freq=None),
        F.sum("jaccard"),
    ) or d.count(),
    "prefix_containment_boiler": lambda d: _agg_probe(
        dedup.prefix_containment_pairs(_boiler(d), threshold=0.8),
        F.sum("containment"),
    ) or d.count(),
    # PPJoin positional prune on the same regime (r11): one extra window
    # ranks the FULL postings so the B side carries positions; prunes
    # spurious pairs before the sum-|A| verification fan-out
    "prefix_containment_pos_boiler": lambda d: _agg_probe(
        dedup.prefix_containment_pairs(_boiler(d), threshold=0.8, positional=True),
        F.sum("containment"),
    ) or d.count(),
    # round 8: count-min over a DISTINCT-ITEM-EXPLODING stream (item =
    # doc_id, so distinct items grow with the corpus while the counter
    # grid stays 5 groups × 4 × 256) + a fixed 100-item probe — the
    # exact regime heavy_hitters' docstring hands off to the sketch
    "cm_sketch": lambda d: _cm_op(d),
    # round 8: incremental reference dedup — the REFERENCE side grows
    # with the corpus while the daily batch stays the fixed base
    # documents; _raw re-hashes the reference per call (the O(corpus)
    # default), _hashed probes the pre-reduced hash table (the
    # O(batch+probe) ingest-cycle shape)
    "incremental_dedup_raw": lambda d: _incremental_op(d, ref_hashed=False),
    "incremental_dedup_hashed": lambda d: _incremental_op(d, ref_hashed=True),
    # round 8: exact interpolated percentiles (per-group value sort)
    # vs the mergeable GK sketch twin over the same growing stream
    "quantiles_exact": lambda d: _quantiles_op(d, approx=False),
    "quantiles_approx": lambda d: _quantiles_op(d, approx=True),
    # round 8 (r10-window prebuild gate): PMI collocations — both count
    # tables vocab-bounded, so the exchange is bounded while the token
    # stream grows
    "collocations": lambda d: _agg_probe(
        text.collocations(d, k=50, min_count=5), F.sum("pmi_micro")
    ) or d.count(),
    # round 8 (r10-window prebuild gate): A-ES weighted sample — 50
    # strata, k=20, weight from text length; map-only key +
    # WindowGroupLimit (quota-sample class)
    "sample_weighted": lambda d: pipeline.sample_weighted(
        d.select("doc_id", F.pmod(F.col("doc_id"), F.lit(50)).cast("string").alias("source"),
                 (F.length("text") + 1).cast("long").alias("w")),
        k=20, weight_col="w", strata_col="source",
    ).agg(F.sum("aes_key_nano")).collect() and d.count(),
    # round 8 (r10-window prebuild gates, second batch): local clustering
    # coefficient on the shared block graph (comparable to the triangles
    # / kcore rows), map-only Flesch readability, and the one-aggregate
    # OHLC resample over a FIXED cell grid (ts range pinned, so rows
    # grow 64x while cells don't — alpha measures the combine, not
    # output growth)
    "clustering_coeff": lambda d: _cc_op(d),
    "readability": lambda d: text.readability(d)
    .agg(F.sum("n_syllables"), F.sum("flesch"))
    .collect()
    and d.count(),
    "ohlc": lambda d: _ohlc_op(d),
    # round 11: the densitometric block classifier (map-only projection)
    # and the binary-WARC write+walk+HTTP-split boundary
    "main_content": lambda d: _main_content_op(d),
    "warc_roundtrip": lambda d: _warc_rt_op(d),
    "robots_match": lambda d: _robots_op(d),
    # round 12: the composed crawl front door end to end, and the
    # byte-exact binary WARC sink round trip (gzip member per record)
    "prepare_crawl": lambda d: _prepare_crawl_op(d),
    "warc_binary_roundtrip": lambda d: _warc_bin_op(d),
    "plan_frontier": lambda d: _plan_frontier_op(d),
    # round 13: the WAT sidecar pipeline end to end (walk -> HTTP split
    # -> head/link extraction -> to_json -> binary sink -> read_wat back)
    "wat_roundtrip": lambda d: _wat_op(d),
}


def _wat_op(docs: DataFrame) -> int:
    """WARC -> WAT -> read-back, end to end: write the replicated
    corpus as real response shards (the _warc_bin_op envelope with an
    HTML body: title + two anchors), generate the WAT sidecar
    (warc_to_wat), and read it back aggregating over the parsed JSON —
    the whole metadata pipeline priced in one row, IO inclusive."""
    import shutil
    import tempfile

    from apache_cassandra_spark.sources import warc as W

    spark = docs.sparkSession
    d = tempfile.mkdtemp(prefix="probe_wat_")
    raw, wat = d + "/raw", d + "/wat"
    try:
        html = F.concat(
            F.lit("<html lang='en'><head><title>T"),
            F.col("doc_id").cast("string"),
            F.lit("</title></head><body><p>"),
            F.col("text"),
            F.lit("</p><a href='/x'>x</a><a href='http://o.org/y'>y</a></body></html>"),
        )
        pages = docs.select(
            F.concat(F.lit("http://p.example/"), F.col("doc_id")).alias("target_uri"),
            F.encode(
                F.concat(
                    F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
                    F.octet_length(html).cast("string"),
                    F.lit("\r\n\r\n"),
                    html,
                ),
                "UTF-8",
            ).alias("payload"),
        )
        W.write_warc_binary(pages, raw, mode="overwrite")
        W.warc_to_wat(spark, raw, wat)
        back = W.read_wat(spark, wat)
        back.agg(
            F.count(F.lit(1)), F.sum(F.length("title")), F.sum(F.size("links"))
        ).collect()
        return docs.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _main_content_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics import html as H

    page = F.concat(
        F.lit('<div><a href="/">Home</a> <a href="/about">About</a> <a href="/c">Contact</a></div><p>'),
        F.col("text"),
        F.lit('</p><ul><li><a href="/r1">Related one</a></li><li><a href="/r2">Related two</a></li></ul>'
              '<div>Copyright 2013 <a href="/t">Terms</a> <a href="/p">Privacy</a></div>'),
    )
    out = H.with_main_content(docs.withColumn("html", page))
    out.agg(F.sum("n_content_blocks"), F.sum(F.length("main_text"))).collect()
    return docs.count()


def _warc_rt_op(docs: DataFrame) -> int:
    """Binary WARC boundary: write the replicated corpus as response
    records (shard count scales with data — the real crawl layout),
    then Content-Length-walk it back and HTTP-split. Timed END TO END
    (write + walk + parse), like the corpus_shard_write row."""
    import shutil
    import tempfile

    from apache_cassandra_spark.sources import warc as W

    spark = docs.sparkSession
    d = tempfile.mkdtemp(prefix="probe_warc_")
    try:
        pages = docs.select(
            F.concat(F.lit("http://p.example/"), F.col("doc_id")).alias("url"),
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")).alias("html"),
        )
        W.write_warc(pages, d)
        back = W.http_response_parts(W.read_warc(spark, d))
        back.agg(F.sum("http_status"), F.sum(F.octet_length("body"))).collect()
        return docs.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _robots_op(docs: DataFrame) -> int:
    """robots.txt compliance filter: 250-site robots universe (fixed),
    pages scale with the corpus — measures the pages x rules-per-domain
    join + the per-page winner window."""
    from apache_cassandra_spark.analytics import robots

    spark = docs.sparkSession
    doms = spark.range(250).select(
        F.concat(F.lit("site"), F.col("id")).alias("domain"),
        F.lit(
            "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"
            "Disallow: /*.pdf$\nDisallow: /tmp\n"
        ).alias("robots_txt"),
    )
    rules = robots.parse_robots(doms)
    dom = F.concat(F.lit("site"), (F.col("doc_id") % 250).cast("string"))
    leaf = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("private/x"))
        .when(F.col("doc_id") % 7 == 1, F.lit("private/ok/y"))
        .when(F.col("doc_id") % 7 == 2, F.lit("doc.pdf"))
        .otherwise(F.lit("page"))
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("http://"), dom, F.lit("/"), leaf).alias("url"),
        dom.alias("domain"),
    )
    out = robots.match_allowed(pages, rules)
    out.agg(F.sum(F.col("allowed").cast("long"))).collect()
    return docs.count()


def _warc_bin_op(docs: DataFrame) -> int:
    """Binary WARC sink -> walk round trip, compressed: write the
    replicated corpus as .warc.gz shards (one gzip member per record —
    the Common Crawl layout; shard count = task count), walk them back
    and HTTP-split. Timed END TO END like the text-sink warc_roundtrip
    row; the delta vs that row is the per-record gzip compress +
    member-walk decompress."""
    import shutil
    import tempfile

    from apache_cassandra_spark.sources import warc as W

    spark = docs.sparkSession
    d = tempfile.mkdtemp(prefix="probe_warcbin_")
    out = d + "/shards"
    try:
        pages = docs.select(
            F.concat(F.lit("http://p.example/"), F.col("doc_id")).alias("target_uri"),
            F.encode(
                F.concat(
                    F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
                    F.octet_length(F.col("text")).cast("string"),
                    F.lit("\r\n\r\n"),
                    F.col("text"),
                ),
                "UTF-8",
            ).alias("payload"),
        )
        W.write_warc_binary(pages, out, compress=True, mode="overwrite")
        back = W.http_response_parts(W.read_warc(spark, out))
        back.agg(F.sum("http_status"), F.sum(F.octet_length("body"))).collect()
        return docs.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _prepare_crawl_op(docs: DataFrame) -> int:
    """The COMPOSED front door (markup -> text, URL keys, robots
    compliance, canonical min-id dedup) end to end: 250-site robots
    universe (fixed), pages scale with the corpus. Measures the whole
    chain a real crawl ingest runs per batch — the per-page projection
    dominates; the compliance join and the two dedup exchanges ride the
    same page fan-out as robots_match."""
    from apache_cassandra_spark.analytics import robots
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    spark = docs.sparkSession
    doms = spark.range(250).select(
        F.concat(F.lit("site"), F.col("id"), F.lit(".com")).alias("domain"),
        F.lit(
            "User-agent: *\nDisallow: /private/\nAllow: /private/ok/\n"
            "Disallow: /*.pdf$\nDisallow: /tmp\n"
        ).alias("robots_txt"),
    )
    rules = robots.parse_robots(doms)
    dom = F.concat(F.lit("site"), (F.col("doc_id") % 250).cast("string"), F.lit(".com"))
    leaf = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("private/x"))
        .when(F.col("doc_id") % 7 == 1, F.lit("private/ok/y"))
        .when(F.col("doc_id") % 7 == 2, F.lit("doc.pdf"))
        .otherwise(F.concat(F.lit("page/"), F.col("doc_id")))
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("http://www."), dom, F.lit("/"), leaf).alias("url"),
        F.concat(
            F.lit('<html lang="en"><head><title>T</title></head><body><p>'),
            F.col("text"),
            F.lit('</p><a href="/x">x</a></body></html>'),
        ).alias("html"),
    )
    out = prepare_crawl(pages, robots_rules=rules)
    out.agg(F.sum("n_links"), F.sum(F.length("clean_text"))).collect()
    return docs.count()


def _plan_frontier_op(docs: DataFrame) -> int:
    """The composed DISCOVERY door (canonical keys -> per-canonical
    winner window -> crawled anti-join in canonical space -> robots
    compliance -> Crawl-delay-paced schedule) end to end: 250-site
    universe (fixed, policies carry Crawl-delay), candidates scale
    with the corpus, crawled = the 25% doc_id % 4 slice under tracker
    noise so the anti-join must key canonically."""
    from apache_cassandra_spark.analytics import robots, web

    spark = docs.sparkSession
    doms = spark.range(250).select(
        F.concat(F.lit("site"), F.col("id"), F.lit(".com")).alias("domain"),
        F.lit(
            "User-agent: *\nDisallow: /private/\nDisallow: /*.pdf$\n"
            "Crawl-delay: 2\n"
        ).alias("robots_txt"),
    )
    rules = robots.parse_robots(doms)
    delays = robots.crawl_delays(doms)
    dom = F.concat(F.lit("site"), (F.col("doc_id") % 250).cast("string"), F.lit(".com"))
    leaf = (
        F.when(F.col("doc_id") % 7 == 0, F.lit("private/x"))
        .when(F.col("doc_id") % 7 == 2, F.lit("doc.pdf"))
        .otherwise(F.concat(F.lit("page/"), F.col("doc_id")))
    )
    cands = docs.select(
        F.concat(F.lit("http://www."), dom, F.lit("/"), leaf).alias("url"),
        (F.col("doc_id") % 13).alias("priority"),
    )
    crawled = docs.where(F.col("doc_id") % 4 == 0).select(
        F.concat(
            F.lit("http://"), dom, F.lit("/"), leaf, F.lit("?utm_source=recrawl")
        ).alias("url")
    )
    out = web.plan_frontier(
        cands, crawled=crawled, robots_rules=rules, delays=delays,
        priority_col="priority",
    )
    out.agg(F.sum("fetch_seq"), F.sum(F.length("canonical_url"))).collect()
    return docs.count()


def _boiler(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" generated by example corp all rights reserved terms privacy contact us page footer"),
        ).alias("text"),
    )


def _block_edges(docs: DataFrame) -> DataFrame:
    """Shared synthetic graph for the peel-family probes: disjoint
    1000-node blocks, block count scales with the corpus, density
    constant — so α measures the plan, not output blowup. One recipe so
    the kcore and coreness SCALE.md rows stay comparable."""
    block = F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(1000))
    return docs.select(
        (block + F.pmod(F.col("doc_id") * 31, F.lit(1000))).alias("src"),
        (block + F.pmod(F.col("doc_id") * 53 + 7, F.lit(1000))).alias("dst"),
    )


def _cc_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics.graph import clustering_coefficient

    return (
        clustering_coefficient(_block_edges(docs)).agg(F.sum("cc_micro")).collect()
        and docs.count()
    )


def _dense_edges(docs: DataFrame) -> DataFrame:
    """DENSIFYING probe graph (round-10, the judge's super-linear suspect):
    node set FIXED at 1k, one edge per probe row — so at k× the same
    graph holds k× the edges and mean degree grows k× (5 -> 320 across
    the 1/8/64 window; at k=64 the wedge volume is ~10^7, real work).
    α here measures how the per-round joins and the wedge/triangle
    structure respond to density itself, the regime the constant-density
    block graph deliberately excludes. Edge endpoints are hash-spread so
    density rises uniformly (no planted hub). Endpoints come from
    xxhash64, NOT a linear map: a*doc_id mod 1000 is a function of
    doc_id mod 1000, and replica ids differ by multiples of 10^6 ≡ 0
    (mod 1000) — the linear form silently replicated ONE fixed edge set
    k times, so the first two "densifying" passes measured a constant
    graph (flat α at both 5k and 1k nodes, the tell that forced this
    note)."""
    return docs.select(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(1000)).alias("src"),
        F.pmod(F.xxhash64(F.col("doc_id"), F.lit(1)), F.lit(1000)).alias("dst"),
    ).where(F.col("src") != F.col("dst"))


def _web_op(docs: DataFrame, which: str) -> int:
    """Web-family probes over synthesized messy URLs (uppercase scheme +
    www + trackers + unsorted params — the full canonicalization chain
    per row). Site key comes from xxhash64 (NOT a linear map — see
    _dense_edges) over a 100k-site universe, the realistic registrable-
    domain ceiling: domain cardinality grows toward the cap while input
    volume scales k×, so domain_stats measures map + partial-combine.
    url_revisions/dedup_urls key URLs on doc_id div 3 / div 8 so dup
    groups stay constant-size and output grows linearly (honest
    output-bound regime)."""
    from apache_cassandra_spark.analytics import web

    def url_for(base):
        site = F.pmod(F.xxhash64(base), F.lit(100_000))
        return F.concat(
            F.lit("HTTP://WWW.Site"), site.cast("string"),
            F.lit(".com:80/Page/"), base.cast("string"),
            F.lit("?utm_source=x&b=2&a=1&gclid=z&q="),
            F.pmod(base, F.lit(7)).cast("string"),
        )

    if which == "domain_stats":
        d = docs.withColumn("url", url_for(F.col("doc_id")))
        out = web.domain_stats(d).agg(F.sum("sum_logit_e7"), F.sum("n_urls"), F.sum("n_keep"))
    elif which == "url_revisions":
        d = (
            docs.withColumn("crawl", F.pmod(F.xxhash64(F.col("doc_id"), F.lit(7)), F.lit(3)))
            .withColumn("url", url_for(F.expr("doc_id div 3")))
        )
        out = web.url_revisions(d).agg(F.sum("n_versions"), F.sum("last_crawl"))
    else:
        d = docs.withColumn("url", url_for(F.expr("doc_id div 8")))
        out = web.dedup_urls(d).agg(F.sum("n_dups"), F.sum("doc_id"))
    return out.collect() and docs.count()


def _html_op(docs: DataFrame, which: str) -> int:
    """HTML-family probes over synthesized markup: every row gets a
    title, a script decoy (must strip), a comment decoy (must not leak
    anchors), the document's REAL text as body (so markup volume scales
    with corpus text volume), and four anchors — absolute / protocol-
    relative / host-relative / path-relative, site keys from xxhash64
    over a 100k-site universe (same realistic domain ceiling as
    _web_op). page_text measures the regexp strip/decode chain per
    byte; outlink_graph adds the explode + host-first aggregate;
    anchor_corpus the explode + resolve projection."""
    from apache_cassandra_spark.analytics import html as H

    site = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(13)), F.lit(100_000)).cast("string")
    dst = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(17)), F.lit(100_000)).cast("string")
    markup = F.concat(
        F.lit('<html lang="en"><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; co</title><style>body{x:1}</style></head><body><script>"),
        F.lit('document.write("<a href="http://decoy.example/">d</a>");</script>'),
        F.lit('<!-- <a href="http://ghost.example/">g</a> --><p>'),
        F.col("text"),
        F.lit(' 1 &lt; 2</p><a href="HTTPS://WWW.Site'),
        dst,
        F.lit('.COM:443/p">ext</a><a href="//cdn.site'),
        dst,
        F.lit('.net/l.js">cdn</a><a href="/nav">nav</a><a href="rel/x">r</a></body></html>'),
    )
    url = F.concat(F.lit("HTTP://WWW.Site"), site, F.lit(".com:80/Page/"), F.col("doc_id").cast("string"))
    d = docs.withColumn("html", markup).withColumn("url", url)
    if which == "page_text":
        out = H.with_page_text(d).agg(
            F.sum(F.length("clean_text")), F.sum("n_links"), F.count(F.lit(1))
        )
    elif which == "outlink_graph":
        out = H.outlink_graph(d).agg(F.sum("n_links"), F.sum("n_pages"), F.count(F.lit(1)))
    else:
        out = H.anchor_text_corpus(d).agg(F.count(F.lit(1)), F.sum(F.length("anchor_text")))
    return out.collect() and docs.count()


def _bm25_op(docs: DataFrame) -> int:
    """BM25 retrieval probe: fixed 3-query set (request-bounded side
    stays constant) while the corpus scales k× — measures the corpus
    explode + (doc,term) aggregate + query-postings semi-join path.
    Top-k output is constant-size by construction; the honest scaling
    question is the posting-list side."""
    from apache_cassandra_spark.analytics.text import BM25_BENCH_QUERIES, bm25_topk

    spark = docs.sparkSession
    qdf = spark.createDataFrame(list(BM25_BENCH_QUERIES), "query_id long, query string")
    # bind: keep the owned (doc,term) cache alive through the action
    r = bm25_topk(docs, qdf, k=10)
    out = r.agg(F.sum("bm25_micro"), F.sum("n_terms"))
    out.collect()
    return docs.count()


def _boilerplate_op(docs: DataFrame) -> int:
    """Domain-conditioned boilerplate removal: xxhash64 domains over a
    250-site universe (pages per domain grow k× with the corpus — the
    template fan-in axis), a per-domain nav line planted on every page
    plus the document's own text lines."""
    from apache_cassandra_spark.analytics.dedup import remove_domain_boilerplate

    # 250-site universe: ~20 pages/domain at k=1 (well past min_pages=4),
    # so EVERY k measures the removal-active regime — a 2k universe put
    # k=1 below the page floor and conflated scaling with a regime flip
    dom = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(31)), F.lit(250)).cast("string")
    d = docs.select(
        "doc_id",
        F.concat(F.lit("site"), dom).alias("domain"),
        # concat_ws, not concat: a NULL text row must degrade to its
        # non-null lines, not silently NULL the whole page out of the
        # probe (the _multiline null-safety convention)
        F.concat_ws(
            "\n",
            F.substring("text", 1, 80),
            F.concat(F.lit("nav menu for site"), dom),
            F.expr("substring(text, 81)"),
        ).alias("text"),
    )
    # bind the result: the returned frame OWNS the cached line frame
    # (owned_cache finalizer) — chaining .agg() off it unreferenced
    # would GC-unpersist the cache before collect ever runs
    r = remove_domain_boilerplate(d)
    out = r.agg(F.count(F.lit(1)), F.sum("n_kept"), F.sum(F.length("text")))
    out.collect()
    return docs.count()


def _warc_bin_op(docs: DataFrame) -> int:
    """Binary WARC sink -> walk round trip, compressed: write the
    replicated corpus as .warc.gz shards (one gzip member per record —
    the Common Crawl layout; shard count = task count), walk them back
    and HTTP-split. Timed END TO END like the text-sink warc_roundtrip
    row; the delta vs that row is the per-record gzip compress +
    member-walk decompress."""
    import shutil
    import tempfile

    from apache_cassandra_spark.sources import warc as W

    spark = docs.sparkSession
    d = tempfile.mkdtemp(prefix="probe_warcbin_")
    out = d + "/shards"
    try:
        pages = docs.select(
            F.concat(F.lit("http://p.example/"), F.col("doc_id")).alias("target_uri"),
            F.encode(
                F.concat(
                    F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nContent-Length: "),
                    F.octet_length(F.col("text")).cast("string"),
                    F.lit("\r\n\r\n"),
                    F.col("text"),
                ),
                "UTF-8",
            ).alias("payload"),
        )
        W.write_warc_binary(pages, out, compress=True, mode="overwrite")
        back = W.http_response_parts(W.read_warc(spark, out))
        back.agg(F.sum("http_status"), F.sum(F.octet_length("body"))).collect()
        return docs.count()
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _prepare_crawl_op(docs: DataFrame) -> int:
    """Composed crawl front half over the _html_op markup (same synth:
    title/script/comment decoys, real text body, four anchors) with
    url keyed on doc_id div 4 so every canonical URL carries a 4-row
    dup group — the extraction projection + the canonical-URL winner
    aggregate + the join back all scale with the corpus."""
    from apache_cassandra_spark.analytics.pipeline import prepare_crawl

    site = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(13)), F.lit(100_000)).cast("string")
    markup = F.concat(
        F.lit('<html lang="en"><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit(" &amp; co</title></head><body><p>"),
        F.col("text"),
        F.lit('</p><a href="HTTPS://WWW.Site'),
        site,
        F.lit('.COM:443/p">ext</a></body></html>'),
    )
    url = F.concat(
        F.lit("HTTP://WWW.Site"), site, F.lit(".com:80/Page/"),
        F.expr("cast(doc_id div 4 as string)"),
    )
    d = docs.withColumn("html", markup).withColumn("url", url)
    out = prepare_crawl(d).agg(
        F.count(F.lit(1)), F.sum(F.length("clean_text")), F.sum("n_links")
    )
    return out.collect() and docs.count()


def _wet_op(docs: DataFrame) -> int:
    """WET interchange round trip, IO-inclusive: write the corpus as
    conversion records to local disk, re-ingest, aggregate. Measures
    the full export→import path (record framing, text sink, multi-char
    lineSep split, header parse) — the honest number for 'how fast can
    this engine exchange a crawl with another system'."""
    import shutil
    import tempfile

    from apache_cassandra_spark.sources import warc

    spark = docs.sparkSession
    d = docs.withColumn(
        "url",
        F.concat(F.lit("http://site"), F.pmod(F.xxhash64("doc_id"), F.lit(100_000)).cast("string"), F.lit(".com/p/"), F.col("doc_id").cast("string")),
    )
    out_dir = tempfile.mkdtemp(prefix="wet_probe_")
    try:
        warc.write_wet(d, out_dir)
        back = warc.read_wet(spark, out_dir)
        back.agg(F.sum("content_length"), F.sum(F.length("text")), F.count(F.lit(1))).collect()
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return docs.count()


def _dense_graph_op(docs: DataFrame, which: str) -> int:
    from apache_cassandra_spark.analytics.graph import (
        clustering_coefficient,
        coreness,
        triangle_counts,
    )

    edges = _dense_edges(docs)
    if which == "triangles":
        out = triangle_counts(edges).agg(F.sum("n_triangles"))
    elif which == "coreness":
        out = coreness(edges, rounds=4).agg(F.sum("coreness"))
    else:
        out = clustering_coefficient(edges).agg(F.sum("cc_micro"))
    return out.collect() and docs.count()


def _ohlc_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics.temporal import resample_ohlc

    ev = docs.select(
        F.pmod(F.col("doc_id") * 37, F.lit(997)).alias("user_id"),
        F.pmod(F.col("doc_id"), F.lit(100_000)).alias("ts"),  # fixed span at any k
        F.col("doc_id").alias("event_id"),
        (F.pmod(F.length("text"), F.lit(500)) / 3.0).alias("value"),
    )
    out = resample_ohlc(ev, ["user_id"], "ts", "value", 1000, "event_id")
    return out.agg(F.sum("high"), F.sum("n_rows")).collect() and docs.count()


def _kcore_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics.graph import k_core

    return (
        k_core(_block_edges(docs), k=3, rounds=4).agg(F.sum("degree")).collect()
        and docs.count()
    )


def _coreness_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics.graph import coreness

    # bounded 4-round replay mode: measures per-round cost, not the
    # graph-dependent convergence count
    return (
        coreness(_block_edges(docs), rounds=4).agg(F.sum("coreness")).collect()
        and docs.count()
    )


def _cm_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics.sketches import cm_estimate, cm_sketch

    ev = docs.select(
        F.col("doc_id").alias("item"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string").alias("grp"),
    )
    sk = cm_sketch(ev, "item", ["grp"], depth=4, width=256)
    probe = ev.where(F.col("item") < 100).distinct()  # base ids: fixed at every k
    out = cm_estimate(sk, probe, "item", ["grp"], depth=4, width=256)
    return out.agg(F.sum("est")).collect() and docs.count()


_REF_HASH_MEMO: dict[int, DataFrame] = {}


def _incremental_op(docs: DataFrame, ref_hashed: bool) -> int:
    """Fixed daily batch (replica 0) against a reference that GROWS with
    the corpus (replicas > 0). Every %10 batch doc is byte-identical in
    the reference (the replicator's exact-dup rule), so ~10% drop and
    the within-batch stage still has work. ref_hashed=True models the
    real ingest cycle: the reference hash table was materialized by the
    PREVIOUS cycle (memoized + eagerly checkpointed here, so the probe's
    kept second-run timing excludes the build — exactly what production
    amortizes), and the call pays only batch hash + anti-join probe.
    ref_hashed=False re-reduces the raw reference per call — the
    O(corpus)-per-day shape the docstring warns about; the α gap between
    the two rows IS the operator's scale story."""
    batch = docs.where(F.col("doc_id") < 1_000_000)  # replica 0 only: fixed batch
    ref_raw = docs.where(F.col("doc_id") >= 1_000_000)
    if not ref_hashed:
        return dedup.dedup_against_reference(batch, ref_raw, ref_hashed=False).count()
    n = docs.count()
    if n not in _REF_HASH_MEMO:
        _REF_HASH_MEMO[n] = (
            ref_raw.select(F.md5(F.col("text")).alias("content_hash"))
            .distinct()
            .localCheckpoint(eager=True)
        )
    return dedup.dedup_against_reference(
        batch, _REF_HASH_MEMO[n], ref_hashed=True
    ).count()


def _quantiles_op(docs: DataFrame, approx: bool) -> int:
    ev = docs.select(
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string").alias("event_type"),
        (F.pmod(F.length("text"), F.lit(500)) / 3.0).alias("value"),
    )
    fn = "approx_percentile(value, 0.9, 10000)" if approx else "percentile(value, 0.9)"
    out = ev.groupBy("event_type").agg(F.round(F.expr(fn), 4).alias("p90"))
    return out.agg(F.sum("p90")).collect() and docs.count()


def _interleave_op(docs: DataFrame, fold_literals: bool) -> int:
    from apache_cassandra_spark.analytics.pipeline import interleave_corpus

    d = docs.select("doc_id", F.pmod(F.col("doc_id"), F.lit(50)).cast("string").alias("source"))
    out = interleave_corpus(d, fold_literals=fold_literals)
    return out.agg(F.sum("global_pos")).collect() and docs.count()


def _triangles_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics.graph import triangle_counts

    block = F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(1000))
    edges = docs.select(
        (block + F.pmod(F.col("doc_id") * 31, F.lit(1000))).alias("src"),
        (block + F.pmod(F.col("doc_id") * 53 + 7, F.lit(1000))).alias("dst"),
    )
    return triangle_counts(edges).agg(F.sum("n_triangles")).collect() and docs.count()


def _gapfill_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics.temporal import gap_fill

    d = docs.select(
        F.pmod(F.col("doc_id") * 37, F.lit(997)).alias("user_id"),
        F.pmod(F.col("doc_id"), F.lit(720)).alias("idx"),
    )
    return gap_fill(d, "user_id", "idx").agg(F.sum("n_events")).collect() and docs.count()


def _range_search_op(docs: DataFrame) -> int:
    from apache_cassandra_spark.analytics import similarity

    vecs = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: (F.pmod(F.col("doc_id") * 31 + j * 7, F.lit(200)) - 100.0) / 10.0,
        ).cast("array<float>").alias("embedding"),
    )
    q = vecs.where(F.col("vec_id") < 5)  # fixed seed set — corpus grows, seeds don't
    out = similarity.range_search(vecs, q, threshold=0.95)
    return out.agg(F.sum("cos")).collect() and docs.count()


def _minhash_incr_op(docs: DataFrame) -> int:
    """Incremental LSH ingest: the REFERENCE is the grown corpus (banded
    to its one-rep-per-bucket table), the probing batch is fixed at
    replica 0 — cost should track the reference reduction (one grouped
    aggregate over history) plus a flat probe, never re-banding history
    per batch-doc."""
    from apache_cassandra_spark.analytics.dedup import (
        _minhash_band_rows,
        minhash_against_reference,
    )

    ref = (
        _minhash_band_rows(docs, "text", "doc_id", 3, 16, 4)
        .groupBy("band", "bucket")
        .agg(F.min("id").alias("rep_id"))
    )
    # shift ABOVE the replica id ceiling (k_max·1e6 < 1e9) — +50e6 would
    # collide with replica 50's range at k >= 51 (round-8 review)
    batch = docs.where(F.col("doc_id") < 1_000_000).select(
        (F.col("doc_id") + 1_000_000_000).alias("doc_id"), "text"
    )
    cands, new_bands = minhash_against_reference(batch, ref)
    return (
        cands.agg(F.count(F.lit(1))).collect()
        and new_bands.agg(F.count(F.lit(1))).collect()
        and docs.count()
    )


def _q21_op(docs: DataFrame) -> int:
    """Synthesize a Q21-shaped fact from the probe docs: 4 lines per
    order, 997 suppliers, ~55% late lines — ORDERS grow with k (each
    replica's doc_ids mint new orderkeys), lines-per-order stays fixed,
    which is how a fact table actually grows. Probes the zero-self-join
    aggregate stack of gates.tpch._waiting_suppliers."""
    from apache_cassandra_spark.gates.tpch import _waiting_suppliers

    base = F.to_timestamp(F.lit("1995-01-01"))
    li = docs.select(
        (F.col("doc_id") / F.lit(4)).cast("long").alias("l_orderkey"),
        F.pmod(F.col("doc_id") * 31, F.lit(997)).alias("l_suppkey"),
        F.timestamp_seconds(
            F.unix_timestamp(base)
            + F.pmod(F.col("doc_id") * 7919, F.lit(200)) * 86400
        ).alias("l_shipdate"),
    )
    o = (
        li.select("l_orderkey")
        .distinct()
        .select(F.col("l_orderkey").alias("o_orderkey"), base.alias("o_orderdate"))
    )
    s = docs.sparkSession.range(997).select(
        F.col("id").alias("s_suppkey"),
        F.concat(F.lit("S"), F.col("id").cast("string")).alias("s_name"),
    )
    return _waiting_suppliers(li, o, s).collect() and docs.count()


def _events_op(docs: DataFrame, which: str) -> int:
    """Synthesize an events-shaped frame from the probe docs (user key
    with a zipf-ish head, value from text length) and run the round-6
    per-key operators over it."""
    ev = docs.select(
        F.col("doc_id").alias("event_id"),
        F.pmod(F.col("doc_id") * 37, F.lit(997)).alias("user_id"),
        (F.pmod(F.length("text"), F.lit(500)) / 3.0).alias("value"),
        F.pmod(F.col("doc_id"), F.lit(5)).cast("string").alias("event_type"),
    )
    if which == "zscore":
        from apache_cassandra_spark.analytics.anomaly import zscore_outliers

        return zscore_outliers(ev).count()
    if which == "hh":
        from apache_cassandra_spark.analytics.sketches import heavy_hitters

        out = heavy_hitters(ev, ["event_type"], "user_id", k=5)
        return out.agg(F.sum("cnt")).collect() and ev.count()
    from apache_cassandra_spark.analytics.sketches import distinct_counts

    out = distinct_counts(ev, ["event_type"], ["user_id"], approx=(which == "hll"))
    return out.agg(F.sum("n_user_id")).collect() and ev.count()


def _emb_op(docs: DataFrame, which: str) -> int:
    """Synthesize a deterministic embedding per probe doc (8 dims of
    doc_id arithmetic — the op cost scales with rows x dims either way)
    and run the map-only embedding operator over it."""
    from apache_cassandra_spark.analytics import similarity

    vecs = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda j: (F.pmod(F.col("doc_id") * 31 + j * 7, F.lit(200)) - 100.0) / 10.0,
        ).cast("array<float>").alias("embedding"),
    )
    if which == "quantize":
        out = similarity.quantize_embeddings(vecs)
        return out.agg(F.sum("scale")).collect() and vecs.count()
    out = similarity.random_project(vecs, out_dim=4, in_dim=8)
    return out.agg(F.sum("proj_0")).collect() and vecs.count()


def main() -> None:
    ks = [int(a) for a in sys.argv[1:]] or [1, 8, 64]
    only = {o for o in os.environ.get("SPARK_GRAFT_PROBE_OPS", "").split(",") if o}
    ops = {n: f for n, f in OPS.items() if not only or n in only}
    spark = get_spark(app_name="scale_probe")
    results: dict[str, dict] = {}
    for k in ks:
        docs = replicated_docs(spark, k).cache()
        n_docs = docs.count()  # materialize once; ops time their own work
        for op, fn in ops.items():
            t0 = time.perf_counter()
            out_rows = fn(docs)
            dt = time.perf_counter() - t0
            if dt < 30:
                # steady-state: first run absorbs codegen/JIT/page-cache
                # one-offs (bench.py measured 0.5-14s spread on run order);
                # re-time anything cheap enough to run twice
                t0 = time.perf_counter()
                out_rows = fn(docs)
                dt = time.perf_counter() - t0
            results.setdefault(op, {})[str(k)] = {
                "n_docs": n_docs,
                "sec": round(dt, 3),
                "rows_out": out_rows,
                "docs_per_sec": round(n_docs / dt),
            }
        docs.unpersist()
        spark.catalog.clearCache()
    for op, per_k in results.items():
        k_lo, k_hi = str(min(ks)), str(max(ks))
        if k_lo != k_hi:
            ratio = per_k[k_hi]["sec"] / per_k[k_lo]["sec"]
            per_k["alpha"] = round(math.log(ratio) / math.log(int(k_hi) / int(k_lo)), 2)
    print(json.dumps({"sf_dir": SF_DIR, "ks": ks, "ops": results}))


if __name__ == "__main__":
    main()
