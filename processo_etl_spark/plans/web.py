"""Web-corpus ingestion + URL curation queries (WARC, canonicalize,
per-domain caps) — the Common Crawl edge of the training-data pipeline.

Extension surface beyond the reference (its extract stage ingests HTTP
zip → CSV, dag.py:61-113; web-scale corpora start one step earlier, at
WARC archives keyed by URL).  Three graded heads:

- ``warc_ingest`` — REAL-FILE WARC ingestion, hash-graded end-to-end
  like ``multimodal_binary_ingest``: a deterministic archive corpus is
  materialized at plan time, scanned via ``binaryFile``, split into
  records by the Arrow-batched ISO 28500 walker, and every graded
  column (type, host, exact Content-Length, payload fill count) is a
  closed form the oracle states without parsing WARC.
- ``url_canonicalize_dedup`` — tracker-strip + case/port/param-order
  normalization collapsing dirty URL variants to one identity, then a
  group-count (the dedup key step).  The oracle RE-IMPLEMENTS the spec
  with DuckDB regexp/list functions — an independent implementation,
  not a restatement of the Spark expression tree.
- ``domain_caps_topk`` — per-registered-domain document cap via the
  salted two-stage ``grouped_topk`` (bounded task state; no celebrity
  domain stalls a task), graded against a plain windowed row_number.

String-only transforms → no float parity risk anywhere in this module.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from processo_etl_spark.functions import urls
from processo_etl_spark.operators import ranking
from processo_etl_spark.plans import register
from processo_etl_spark.plans.common import t
from processo_etl_spark.sources import warc

_WARC_CORPUS = os.path.join(tempfile.gettempdir(), "processo_etl_warc_corpus_v1")


@register(
    "warc_ingest",
    oracle="""
    WITH g AS (SELECT unnest(generate_series(0, 63)) AS gid)
    SELECT CAST(gid AS BIGINT) AS rec_id,
      CASE WHEN gid % 8 = 0 THEN 'metadata' ELSE 'response' END AS warc_type,
      'site' || CAST(gid % 5 AS VARCHAR) || '.example.com' AS host,
      CAST(length('doc-' || CAST(gid AS VARCHAR) || ':') + (gid % 97)
           AS BIGINT) AS content_length,
      CAST(gid % 97 AS BIGINT) AS n_fill
    FROM g
    """,
)
def warc_ingest(spark, sf_dir):
    """WARC ingestion end-to-end: 4 deterministic ``.warc`` archives ×
    16 records (sources/warc.write_warc_corpus — idempotent, atomic) →
    ``binaryFile`` scan → record split (exact Content-Length framing,
    one Arrow pass per archive) → header/host/payload projections.

    What the hash grades: the listing + scan, the splitter's framing
    (a mis-advance shifts every subsequent record's payload), header
    parsing, ``parse_url`` host extraction, and the payload byte
    round-trip (``n_fill`` counts the ``x`` fill chars, so a corrupted
    or truncated payload changes a graded value, not just a length).
    Scale shape: file-per-task parallelism (the public Spark WARC
    posture — Common Crawl ships ~1 GB archives), zero shuffles.
    """
    recs = warc.read_warc(spark, warc.write_warc_corpus(_WARC_CORPUS))
    body = F.decode(F.col("payload"), "UTF-8")
    return recs.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1)
        .cast("long")
        .alias("rec_id"),
        "warc_type",
        urls.url_host("target_uri").alias("host"),
        "content_length",
        F.length(F.regexp_replace(body, "[^x]", "")).cast("long").alias("n_fill"),
    )


@register(
    "url_canonicalize_dedup",
    oracle="""
    WITH d AS (
      SELECT 'HTTPS://WWW.' || source || '.Example.COM:443/Art/'
          || CAST(doc_id % 50 AS VARCHAR)
          || '?utm_source=feed&b=' || CAST(doc_id % 3 AS VARCHAR)
          || '&a=' || CAST(doc_id % 25 AS VARCHAR)
          || '#sec-' || CAST(doc_id % 7 AS VARCHAR) AS u
      FROM documents
    ),
    nf AS (SELECT regexp_replace(u, '#.*$', '') AS u FROM d),
    parts AS (
      SELECT
        regexp_replace(regexp_replace(
            lower(regexp_extract(u, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)', 1)),
            '^(https://[^/:]+):443$', '\\1'), '^(http://[^/:]+):80$', '\\1')
          AS prefix,
        regexp_extract(u, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1)
          AS path,
        regexp_extract(u, '\\?([^#]*)', 1) AS query
      FROM nf
    ),
    canon AS (
      SELECT prefix || path
          || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canonical_url
      FROM (
        SELECT prefix, path,
          array_to_string(list_sort(list_filter(string_split(query, '&'),
            x -> x <> '' AND NOT regexp_matches(x,
              '^(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)='))), '&') AS qs
        FROM parts)
    )
    SELECT canonical_url,
      regexp_extract(canonical_url, '^[a-z+.-]+://([^/:?#]+)', 1) AS host,
      CAST(count(*) AS BIGINT) AS n_docs
    FROM canon GROUP BY 1, 2
    """,
)
def url_canonicalize_dedup(spark, sf_dir):
    """URL-identity dedup key: deterministic DIRTY urls (upper-cased
    scheme/host, explicit :443, utm tracker, unsorted params, fragment)
    are derived per document, canonicalized by the RFC-3986-subset spec
    in functions/urls.py (pure JVM expressions — no UDF), and counted
    per canonical identity.  The oracle re-implements the spec with
    DuckDB's regexp/list pipeline, so every normalization step is
    independently cross-checked byte-for-byte.  At 100 TB this column
    IS the dedup/grouping key for web snapshots — exact dedup on
    canonical_url composes with the dedup family unchanged.
    """
    docs = t(spark, sf_dir, "documents")
    m = lambda k: (F.col("doc_id") % k).cast("string")  # noqa: E731
    dirty = F.concat(
        F.lit("HTTPS://WWW."),
        F.col("source"),
        F.lit(".Example.COM:443/Art/"),
        m(50),
        F.lit("?utm_source=feed&b="),
        m(3),
        F.lit("&a="),
        m(25),
        F.lit("#sec-"),
        m(7),
    )
    canon = docs.select(urls.url_canonicalize(dirty).alias("canonical_url"))
    return (
        canon.withColumn("host", urls.url_host("canonical_url"))
        .groupBy("canonical_url", "host")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "domain_caps_topk",
    oracle="""
    SELECT domain, doc_id, n_chars, CAST(rn AS INTEGER) AS rk
    FROM (
      SELECT lang || '-site.org' AS domain, doc_id, n_chars,
        row_number() OVER (PARTITION BY lang
                           ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents)
    WHERE rn <= 25
    """,
)
def domain_caps_topk(spark, sf_dir):
    """Per-domain document budget — the CCNet/Gopher "cap each domain"
    curation step over URL-keyed corpora: hosts are derived per doc
    (``{source}.{lang}-site.org``), collapsed to registered domains
    (functions/urls.url_registered_domain), and each domain keeps its
    top-25 docs by (n_chars DESC, doc_id) via the salted two-stage
    ``grouped_topk`` — bounded per-task sort state, so one celebrity
    domain (at web scale: blogspot.com-class hosts with 10⁸ pages)
    cannot stall a task the way a plain partitioned window would.  The
    oracle is the single-window row_number the two-stage plan provably
    equals."""
    docs = t(spark, sf_dir, "documents")
    dom = docs.select(
        "doc_id",
        "n_chars",
        urls.url_registered_domain(
            F.concat("source", F.lit("."), "lang", F.lit("-site.org"))
        ).alias("domain"),
    )
    return ranking.grouped_topk(
        dom,
        ["domain"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=25,
        salt_key="doc_id",
    ).select("domain", "doc_id", "n_chars", "rk")


@register(
    "url_filter_rules",
    oracle="""
    WITH u AS (
      SELECT doc_id,
        (CASE WHEN doc_id % 11 = 0 THEN 'ftp'
              WHEN doc_id % 3 = 0 THEN 'http' ELSE 'https' END)
        || '://www.' || source || CAST(doc_id % 200 AS VARCHAR)
        || (CASE WHEN doc_id % 13 = 0 THEN '.bad-ads.example'
                 ELSE '.example.org' END)
        || repeat('/seg', CAST(doc_id % 9 AS INT))
        || (CASE WHEN doc_id % 17 = 0 THEN '/spam-offer' ELSE '/page' END)
        || (CASE WHEN doc_id % 19 = 0
                 THEN '?pad=' || repeat('x', 150) ELSE '' END) AS url
      FROM documents),
    ruled AS (
      SELECT CASE
        WHEN NOT regexp_matches(url, '^https?://') THEN 'scheme_not_http'
        WHEN regexp_extract(regexp_extract(url,
               '^[a-z]+://([^/:?#]+)', 1), '([^.]+\\.[^.]+)$', 1)
             IN ('bad-ads.example', 'tracker.example')
          THEN 'domain_blocklist'
        WHEN regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1)
             LIKE '%spam%' THEN 'banned_keyword'
        WHEN length(regexp_extract(url, '^[a-z]+://[^/?#]*([^?#]*)', 1))
             - length(replace(regexp_extract(url,
                 '^[a-z]+://[^/?#]*([^?#]*)', 1), '/', '')) > 6
          THEN 'path_too_deep'
        WHEN length(url) > 120 THEN 'url_too_long'
        ELSE 'kept' END AS rule
      FROM u)
    SELECT rule, CAST(count(*) AS BIGINT) AS n_urls
    FROM ruled GROUP BY rule
    """,
)
def url_filter_rules(spark, sf_dir):
    """URL filtering-rule cascade — the curation stage every public
    web-corpus recipe applies before content ever downloads (RefinedWeb
    §3.1 / FineWeb URL filtering): scheme allowlist, registered-domain
    blocklist (a broadcast join against the curated list — at real scale
    the UT1-class blocklists are ~4 M domains, far under the broadcast
    threshold), banned path keyword, path-depth cap, and URL-length cap,
    applied FIRST-MATCH-WINS so every URL is attributed to exactly one
    verdict and the output is a per-rule audit (the numbers a curation
    run reports).  URLs are synthesized deterministically from doc_id so
    every rule fires on a known subset; the oracle re-derives the
    cascade with DuckDB regexp/CASE — independent implementation, same
    spec.  Scale shape: pure map stage (regexp + one broadcast hash
    join, no shuffle) until the final |rules|-row aggregate.
    """
    docs = t(spark, sf_dir, "documents")
    m = lambda k: (F.col("doc_id") % k).cast("string")  # noqa: E731
    url = F.concat(
        F.when(F.col("doc_id") % 11 == 0, F.lit("ftp"))
        .when(F.col("doc_id") % 3 == 0, F.lit("http"))
        .otherwise(F.lit("https")),
        F.lit("://www."),
        F.col("source"),
        m(200),
        F.when(
            F.col("doc_id") % 13 == 0, F.lit(".bad-ads.example")
        ).otherwise(F.lit(".example.org")),
        F.repeat(F.lit("/seg"), (F.col("doc_id") % 9).cast("int")),
        F.when(F.col("doc_id") % 17 == 0, F.lit("/spam-offer")).otherwise(
            F.lit("/page")
        ),
        F.when(
            F.col("doc_id") % 19 == 0,
            F.concat(F.lit("?pad="), F.repeat(F.lit("x"), 150)),
        ).otherwise(F.lit("")),
    )
    blocklist = F.broadcast(
        spark.createDataFrame(
            [("bad-ads.example",), ("tracker.example",)], ["blocked_domain"]
        )
    )
    path = F.regexp_extract("url", r"^[a-z]+://[^/?#]*([^?#]*)", 1)
    ruled = (
        docs.select(url.alias("url"))
        .withColumn(
            "reg_domain",
            urls.url_registered_domain(
                F.regexp_extract("url", r"^[a-z]+://([^/:?#]+)", 1)
            ),
        )
        .join(
            blocklist,
            F.col("reg_domain") == F.col("blocked_domain"),
            "left",
        )
        .select(
            F.when(
                ~F.col("url").rlike(r"^https?://"), F.lit("scheme_not_http")
            )
            .when(F.col("blocked_domain").isNotNull(), F.lit("domain_blocklist"))
            .when(path.contains("spam"), F.lit("banned_keyword"))
            .when(
                F.length(path) - F.length(F.regexp_replace(path, "/", ""))
                > 6,
                F.lit("path_too_deep"),
            )
            .when(F.length("url") > 120, F.lit("url_too_long"))
            .otherwise(F.lit("kept"))
            .alias("rule")
        )
    )
    return ruled.groupBy("rule").agg(F.count(F.lit(1)).alias("n_urls"))


@register(
    "web_link_graph",
    oracle="""
    WITH h AS (
      SELECT doc_id, source, lang,
        '<html><body><p>Doc ' || CAST(doc_id AS VARCHAR)
        || '</p><a class="nav" href="/local/' || CAST(doc_id % 5 AS VARCHAR)
        || '">rel</a><a href="https://site'
        || CAST((doc_id * 7 + 0) % 40 AS VARCHAR) || '.example.org/p/'
        || CAST(doc_id % 97 AS VARCHAR) || '">a</a><img src="https://cdn'
        || CAST(doc_id % 3 AS VARCHAR) || '.example.net/i.png"><a href="https://site'
        || CAST((doc_id * 7 + 13) % 40 AS VARCHAR) || '.example.org/p/'
        || CAST(doc_id % 97 AS VARCHAR) || '">b</a><a href="mailto:x@example.com">m</a>'
        || '<a rel="x" href="https://site'
        || CAST((doc_id * 7 + 26) % 40 AS VARCHAR) || '.example.org/p/'
        || CAST(doc_id % 97 AS VARCHAR) || '">c</a></body></html>' AS html
      FROM documents),
    links AS (
      SELECT source || '.' || lang || '-site.org' AS src_host,
        unnest(regexp_extract_all(html, '<a [^>]*href="([^"]+)"', 1)) AS href
      FROM h),
    abs_links AS (
      SELECT src_host,
        regexp_extract(href, '^https?://([^/:?#]+)', 1) AS dst_host
      FROM links WHERE regexp_matches(href, '^https?://'))
    SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
    FROM abs_links GROUP BY src_host, dst_host
    """,
)
def web_link_graph(spark, sf_dir):
    """WARC→link-graph derivation — the step between HTML extraction and
    host-level PageRank (the public Common Crawl host ranking recipe):
    anchors are pulled from (deterministically synthesized) HTML with
    the same ``<a href>`` regexp on both engines, relative/mailto links
    are dropped (absolute http(s) only — the ``<img src>`` and
    ``href="/local/…"`` decoys prove the matcher's selectivity), hosts
    are extracted, and edges aggregate to ``(src_host, dst_host,
    n_links)`` — the weighted adjacency list
    ``operators/graph.pagerank_distributed`` consumes directly.  Scale
    shape: regexp explode is a JVM map stage; the only shuffle is the
    final edge-key aggregate, partial-agg'd map-side because duplicate
    (src, dst) pairs collapse before the exchange."""
    docs = t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    m = lambda k: (F.col("doc_id") % k).cast("string")  # noqa: E731
    site = lambda off: F.concat(  # noqa: E731
        F.lit("https://site"),
        ((F.col("doc_id") * 7 + off) % 40).cast("string"),
        F.lit(".example.org/p/"),
        m(97),
    )
    html = F.concat(
        F.lit("<html><body><p>Doc "),
        i,
        F.lit('</p><a class="nav" href="/local/'),
        m(5),
        F.lit('">rel</a><a href="'),
        site(0),
        F.lit('">a</a><img src="https://cdn'),
        m(3),
        F.lit('.example.net/i.png"><a href="'),
        site(13),
        F.lit('">b</a><a href="mailto:x@example.com">m</a><a rel="x" href="'),
        site(26),
        F.lit('">c</a></body></html>'),
    )
    links = docs.select(
        F.concat(
            F.col("source"), F.lit("."), F.col("lang"), F.lit("-site.org")
        ).alias("src_host"),
        F.explode(
            F.regexp_extract_all(html, F.lit('<a [^>]*href="([^"]+)"'), 1)
        ).alias("href"),
    )
    return (
        links.filter(F.col("href").rlike(r"^https?://"))
        .select(
            "src_host",
            F.regexp_extract("href", r"^https?://([^/:?#]+)", 1).alias(
                "dst_host"
            ),
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count(F.lit(1)).alias("n_links"))
    )


@register(
    "robots_rules_filter",
    oracle="""
    WITH urls AS (
      SELECT doc_id, source || '.' || lang || '-site.org' AS host,
        '/cat' || CAST(doc_id % 7 AS VARCHAR)
        || '/item' || CAST(doc_id % 50 AS VARCHAR) AS path,
        source, lang
      FROM documents),
    hosts AS (SELECT DISTINCT source, lang FROM documents),
    rules AS (
      SELECT source || '.' || lang || '-site.org' AS host,
        '/cat' || CAST(length(source) % 7 AS VARCHAR) AS prefix,
        false AS allow
      FROM hosts
      UNION ALL
      SELECT source || '.' || lang || '-site.org',
        '/cat' || CAST(length(source) % 7 AS VARCHAR)
          || '/item' || CAST(length(lang) * 7 % 50 AS VARCHAR),
        true
      FROM hosts
      UNION ALL
      SELECT source || '.' || lang || '-site.org', '', true FROM hosts),
    matched AS (
      SELECT u.doc_id, u.host, r.allow,
        row_number() OVER (PARTITION BY u.doc_id
          ORDER BY length(r.prefix) DESC, r.allow DESC) AS rn
      FROM urls u JOIN rules r
        ON u.host = r.host AND u.path LIKE r.prefix || '%')
    SELECT host, allow AS allowed, CAST(count(*) AS BIGINT) AS n_urls
    FROM matched WHERE rn = 1
    GROUP BY host, allow
    """,
)
def robots_rules_filter(spark, sf_dir):
    """robots.txt compliance filtering — longest-prefix-match rule
    resolution (the Google REP tie-break: longest rule wins, Allow
    beats Disallow on equal length), the gate between the URL frontier
    and the fetcher in every public crawl pipeline.  Per-host rules are
    synthesized deterministically (each host disallows one category
    with one allowed item-level exception plus the root allow-all
    fallback), URLs join their host's rules (BROADCAST — real robots
    rule sets are tiny next to the frontier), prefix-match filters,
    and the winner per URL is a lexicographic ``max(struct(length,
    allow))`` — a plain combinable aggregate, no window over the
    frontier.  The oracle resolves the same rules with a row_number
    ordered (length DESC, allow DESC), an independent formulation of
    the same tie-break.  Scale shape: frontier-side work is one
    broadcast join + one groupBy(doc) partial-agg'd max; nothing
    scales with |rules| × |frontier| beyond the per-host match.
    """
    docs = t(spark, sf_dir, "documents")
    host = F.concat(
        F.col("source"), F.lit("."), F.col("lang"), F.lit("-site.org")
    )
    urls_df = docs.select(
        "doc_id",
        host.alias("host"),
        F.concat(
            F.lit("/cat"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("/item"),
            (F.col("doc_id") % 50).cast("string"),
        ).alias("path"),
    )
    cat = (F.length("source") % 7).cast("string")
    item = (F.length("lang") * 7 % 50).cast("string")
    rules = (
        docs.select("source", "lang")
        .distinct()
        .select(
            host.alias("host"),
            F.explode(
                F.array(
                    F.struct(
                        F.concat(F.lit("/cat"), cat).alias("prefix"),
                        F.lit(False).alias("allow"),
                    ),
                    F.struct(
                        F.concat(
                            F.lit("/cat"), cat, F.lit("/item"), item
                        ).alias("prefix"),
                        F.lit(True).alias("allow"),
                    ),
                    F.struct(F.lit("").alias("prefix"), F.lit(True).alias("allow")),
                )
            ).alias("rule"),
        )
        .select("host", F.col("rule.prefix"), F.col("rule.allow"))
    )
    winners = (
        urls_df.join(F.broadcast(rules), "host")
        .filter(F.col("path").startswith(F.col("prefix")))
        .groupBy("doc_id", "host")
        .agg(
            F.max(
                F.struct(
                    F.length("prefix").alias("l"),
                    F.col("allow").alias("a"),
                )
            ).alias("w")
        )
    )
    return (
        winners.select("host", F.col("w.a").alias("allowed"))
        .groupBy("host", "allowed")
        .agg(F.count(F.lit(1)).alias("n_urls"))
    )


@register(
    "html_extract_text",
    oracle="""
    WITH h AS (
      SELECT doc_id,
        '<html><head><script type="text/javascript">var x = 1 < 2;'
        || '</script><style>p { color: red; }</style><title>Doc '
        || CAST(doc_id AS VARCHAR) || '</title></head><body><!-- id '
        || CAST(doc_id AS VARCHAR) || ' --><h1>Doc '
        || CAST(doc_id AS VARCHAR) || '</h1><p>'
        || regexp_replace(text, '[<>&]', ' ', 'g')
        || '</p><p>lang &amp; source: ' || lang || ' &#39;' || source
        || '&#39;</p></body></html>' AS html
      FROM documents
    ),
    x AS (
      SELECT doc_id,
        trim(regexp_replace(
          replace(replace(replace(replace(replace(replace(
            regexp_replace(regexp_replace(regexp_replace(regexp_replace(
              html,
              '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
              '(?s)<!--.*?-->', ' ', 'g'),
              '<[^>]+>', ' ', 'g'),
            '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
            '&nbsp;', ' '), '&amp;', '&'),
          '\\s+', ' ', 'g')) AS txt
      FROM h
    )
    SELECT doc_id, CAST(length(txt) AS BIGINT) AS n_chars_txt,
      CAST(len(string_split(txt, ' ')) AS BIGINT) AS n_tokens,
      substring(txt, 1, 20) AS prefix
    FROM x
    """,
)
def html_extract_text(spark, sf_dir):
    """WARC→WET derivation: deterministic HTML is wrapped around each
    document's (angle/amp-sanitized) text — script + style blocks, a
    comment, entities, nested tags — and functions/html.html_to_text
    extracts the visible text as a pure regexp/replace expression
    pipeline.  The oracle re-implements the extraction spec with
    DuckDB's regexp engine (both are RE2-compatible patterns — no
    backreferences), so block-stripping, tag removal, entity decode
    ORDER (&amp; last) and whitespace collapse are each independently
    cross-checked.  At 100 TB this is the map stage between the WARC
    scan and the curation families — no shuffle, codegen-able, and the
    regexp work stays JVM-side where a Python-UDF extractor would pay
    the serialization tax on every crawled byte."""
    from processo_etl_spark.functions.html import html_to_text

    docs = t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit(
            '<html><head><script type="text/javascript">var x = 1 < 2;'
            "</script><style>p { color: red; }</style><title>Doc "
        ),
        i,
        F.lit("</title></head><body><!-- id "),
        i,
        F.lit(" --><h1>Doc "),
        i,
        F.lit("</h1><p>"),
        F.regexp_replace(F.col("text"), "[<>&]", " "),
        F.lit("</p><p>lang &amp; source: "),
        F.col("lang"),
        F.lit(" &#39;"),
        F.col("source"),
        F.lit("&#39;</p></body></html>"),
    )
    txt = html_to_text(html)
    return docs.select(
        "doc_id",
        F.length(txt).cast("long").alias("n_chars_txt"),
        F.size(F.split(txt, " ")).cast("long").alias("n_tokens"),
        F.substring(txt, 1, 20).alias("prefix"),
    )


@register(
    "anchor_text_topk",
    oracle="""
    WITH h AS (
      SELECT
        '<a href="https://site' || CAST((doc_id * 7) % 40 AS VARCHAR)
        || '.example.org/p">'
        || (['alpha','beta','gamma','delta','epsilon'])[doc_id % 5 + 1]
        || ' guide</a><a href="https://site'
        || CAST((doc_id * 13 + 5) % 40 AS VARCHAR) || '.example.org/q">'
        || (['alpha','beta','gamma'])[doc_id % 3 + 1]
        || ' docs</a>' AS html
      FROM documents),
    el AS (
      SELECT unnest(regexp_extract_all(
        html, '<a href="[^"]+">[^<]*</a>')) AS e
      FROM h),
    agg AS (
      SELECT regexp_extract(e, 'https?://([^/"]+)', 1) AS dst_host,
        regexp_extract(e, '>([^<]*)<', 1) AS anchor_text,
        CAST(count(*) AS BIGINT) AS n
      FROM el GROUP BY 1, 2)
    SELECT dst_host, anchor_text, n, CAST(rn AS INTEGER) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY dst_host
        ORDER BY n DESC, anchor_text) AS rn
      FROM agg)
    WHERE rn <= 2
    """,
)
def anchor_text_topk(spark, sf_dir):
    """Anchor-text aggregation — the classic off-page description
    signal (anchor words pointing AT a page describe it better than
    the page itself; the public web-search/WebText recipe for titling
    and quality-weighting crawl targets): ``<a href>text</a>`` elements
    are pulled from deterministically synthesized HTML, (target host,
    anchor text) pairs aggregate, and each host keeps its top-2 anchor
    texts by (count DESC, text) via the salted two-stage
    ``grouped_topk`` — a celebrity target (every page links to it)
    never serializes into one task.  The oracle is the single-window
    row_number the two-stage plan provably equals, over an independent
    DuckDB re-extraction of the same elements.  Scale shape: regexp
    explode is a JVM map stage; one combinable pair aggregate; the
    top-k never shuffles the corpus, only the |hosts × texts| pair
    table."""
    docs = t(spark, sf_dir, "documents")
    words5 = F.array(*[F.lit(x) for x in
                       ("alpha", "beta", "gamma", "delta", "epsilon")])
    words3 = F.array(*[F.lit(x) for x in ("alpha", "beta", "gamma")])
    html = F.concat(
        F.lit('<a href="https://site'),
        ((F.col("doc_id") * 7) % 40).cast("string"),
        F.lit('.example.org/p">'),
        F.element_at(words5, (F.col("doc_id") % 5 + 1).cast("int")),
        F.lit(' guide</a><a href="https://site'),
        ((F.col("doc_id") * 13 + 5) % 40).cast("string"),
        F.lit('.example.org/q">'),
        F.element_at(words3, (F.col("doc_id") % 3 + 1).cast("int")),
        F.lit(" docs</a>"),
    )
    el = docs.select(
        F.explode(
            F.regexp_extract_all(
                html, F.lit('(<a href="[^"]+">[^<]*</a>)'), 1
            )
        ).alias("e")
    )
    agg = (
        el.select(
            F.regexp_extract("e", r'https?://([^/"]+)', 1).alias("dst_host"),
            F.regexp_extract("e", r">([^<]*)<", 1).alias("anchor_text"),
        )
        .groupBy("dst_host", "anchor_text")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return ranking.grouped_topk(
        agg,
        ["dst_host"],
        [F.col("n").desc(), F.col("anchor_text").asc()],
        k=2,
        salt_key="anchor_text",
    ).select("dst_host", "anchor_text", "n", "rk")


@register(
    "domain_quality_stats",
    oracle="""
    SELECT source || '.' || lang || '-site.org' AS domain,
      CAST(count(*) AS BIGINT) AS n_docs,
      CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_unique,
      CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) AS dup_share,
      CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_chars,
      CAST(sum(CASE WHEN n_chars < 200 THEN 1 ELSE 0 END) AS DOUBLE)
        / CAST(count(*) AS DOUBLE) AS short_share
    FROM documents
    GROUP BY 1
    """,
)
def domain_quality_stats(spark, sf_dir):
    """Domain-level curation signals — the FineWeb/CCNet move of
    deciding keep/drop/cap at the REGISTERED-DOMAIN grain before
    paying per-document costs: per domain, document count, exact
    content-fingerprint (md5) distinct count, duplicate share,
    mean length, and short-doc share.  Every ratio is a double
    division of exact int64 counts, so both engines agree
    bit-for-bit.  Scale shape: ONE combinable groupBy over the
    corpus (count-distinct of a 128-bit fingerprint is the only
    shuffle-heavy aggregate — at 100 TB swap in the HLL sketch
    column of ``hll_daily_merge_distinct`` for an approximate
    twin); output is |domains| rows — the curation table a human
    reviews."""
    docs = t(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    u = F.countDistinct(F.md5("text"))
    return (
        docs.groupBy(
            F.concat(
                F.col("source"), F.lit("."), F.col("lang"), F.lit("-site.org")
            ).alias("domain")
        )
        .agg(
            n.alias("n_docs"),
            u.alias("n_unique"),
            ((n - u).cast("double") / n.cast("double")).alias("dup_share"),
            (F.sum("n_chars").cast("double") / n.cast("double")).alias(
                "avg_chars"
            ),
            (
                F.sum(
                    F.when(F.col("n_chars") < 200, F.lit(1)).otherwise(
                        F.lit(0)
                    )
                ).cast("double")
                / n.cast("double")
            ).alias("short_share"),
        )
    )


def _lpa_oracle(iterations: int) -> str:
    """Replay oracle for ``graph_communities_lpa``: the planted-cluster
    edge synthesis plus one CTE per synchronous LPA round (vote sum →
    row_number argmax with (votes DESC, label) — the same winner as the
    Spark side's ``min(struct(-v, label))``)."""
    its = []
    for k in range(1, iterations + 1):
        its.append(f"""
    it{k} AS (
      SELECT node, label FROM (
        SELECT nb.node, l.label, sum(nb.wt) AS v,
          row_number() OVER (PARTITION BY nb.node
            ORDER BY sum(nb.wt) DESC, l.label) AS rn
        FROM nb JOIN it{k - 1} l ON nb.nbr = l.node
        GROUP BY nb.node, l.label) t
      WHERE rn = 1)""")
    return f"""
    WITH e0 AS (
      SELECT (doc_id % 6) * 10 + (doc_id * 7 + 1) % 10 AS src,
             (doc_id % 6) * 10 + (doc_id * 11 + 3) % 10 AS dst
      FROM documents
      WHERE (doc_id * 7 + 1) % 10 <> (doc_id * 11 + 3) % 10
      UNION ALL
      SELECT (doc_id % 6) * 10 + (doc_id * 7 + 1) % 10,
             (((doc_id % 6) + 1) % 6) * 10 + (doc_id * 11 + 3) % 10
      FROM documents WHERE doc_id % 101 = 0),
    eg AS (
      SELECT src, dst, CAST(count(*) AS BIGINT) AS w
      FROM e0 GROUP BY 1, 2),
    nb AS (
      SELECT node, nbr, CAST(sum(w) AS BIGINT) AS wt FROM (
        SELECT src AS node, dst AS nbr, w FROM eg
        UNION ALL SELECT dst, src, w FROM eg) u
      GROUP BY 1, 2),
    it0 AS (SELECT DISTINCT node, node AS label FROM nb),{",".join(its)}
    SELECT node, label AS community FROM it{iterations}
    """


@register("graph_communities_lpa", oracle=_lpa_oracle(3))
def graph_communities_lpa(spark, sf_dir):
    """Community detection over a host graph by deterministic weighted
    label propagation (operators/graph.label_propagation — Raghavan et
    al. 2007, synchronized + min-label tie-break so a SQL oracle can
    replay every round): a planted-cluster graph is synthesized from
    ``documents`` (6 clusters × 10 nodes; dense intra-cluster edges
    from every doc, sparse doc_id%101 cross-cluster bridges), edges
    weight-aggregate, and 3 LPA rounds run as join+groupBy supersteps.
    The oracle re-derives the synthesis and replays the 3 rounds with
    window-argmax CTEs, so the undirected weight combine, the vote
    sums, and the (votes DESC, label ASC) tie-break are each graded
    exactly.  Scale shape: per round ONE equi-join on the (persisted,
    pre-partitioned) neighbor view + two combinable groupBys — the
    PageRank superstep shape; nothing
    collects to the driver, so the plan holds on billion-node host
    graphs where LPA is the standard cheap community pass."""
    from processo_etl_spark.operators import graph

    docs = t(spark, sf_dir, "documents")
    c = F.col("doc_id") % 6
    i = (F.col("doc_id") * 7 + 1) % 10
    j = (F.col("doc_id") * 11 + 3) % 10
    intra = docs.filter(i != j).select(
        (c * 10 + i).alias("src"), (c * 10 + j).alias("dst")
    )
    cross = docs.filter(F.col("doc_id") % 101 == 0).select(
        (c * 10 + i).alias("src"),
        (((c + 1) % 6) * 10 + j).alias("dst"),
    )
    edges = (
        intra.unionAll(cross)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return graph.label_propagation(edges, iterations=3)
