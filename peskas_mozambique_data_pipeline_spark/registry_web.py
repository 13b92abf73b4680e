"""Web and multimodal registry rows: URL canonicalization and dedup,
public-suffix domains, politeness-scheduled fetch offsets, HTML text
and main-content extraction, the link graph, anchor and sitemap
harvesting, and the image, audio and video fingerprint surfaces.

Expected values are stated analytically from each row's deterministic
input generator wherever possible, so the oracle never re-parses HTML
or media bytes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import web as web_ops
from .session import read_table

_S = "string"
_L = "long"
_D = "double"


def _null(t: str):
    return F.lit(None).cast(t)


# ---------------------------------------------------------------------------
# url_dedup — the crawl front door under the hard oracle.  URLs are
# synthesized deterministically from doc_id (the harness documents
# table has no URL column): blocks of 4 consecutive ids share one page
# in scheme/www/tracking-param/param-order/trailing-slash variants
# (v = id%4 ∈ {0,1,2} collapse to one canonical key, v=3 is a
# query-less sibling), hosts rotate through plain / co.uk / com.au
# suffixes, and id%97==0 rows are malformed ("not a url …") to
# exercise the NULL-canonical singleton path.  Winner per key =
# highest n_chars, ties to smallest doc_id.  The oracle computes the
# canonical form analytically from the same generator — ground truth
# independent of parse_url.

_URL_GEN = """
  CASE WHEN doc_id % 97 = 0 THEN concat('not a url ', cast(doc_id as string))
  ELSE concat(
    CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END, '://',
    CASE WHEN doc_id % 4 = 1 THEN 'www.' ELSE '' END,
    CASE CAST((doc_id div 4) % 3 AS INT)
      WHEN 0 THEN concat('s', cast((doc_id div 4) % 6 as string), '.example.com')
      WHEN 1 THEN concat('s', cast((doc_id div 4) % 6 as string), '.example.co.uk')
      ELSE concat('s', cast((doc_id div 4) % 6 as string), '.blog.example.com.au')
    END,
    '/p/', cast(doc_id div 4 as string),
    CASE CAST(doc_id % 4 AS INT)
      WHEN 0 THEN '?b=2&a=1'
      WHEN 1 THEN '?a=1&b=2'
      WHEN 2 THEN '?utm_source=x&a=1&b=2'
      ELSE '/'
    END)
  END
"""


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "url", F.expr(_URL_GEN)
    )
    out = web_ops.url_dedup(
        docs, url_col="url", id_col="doc_id", score_col="n_chars"
    )
    return out.select(
        "doc_id",
        "canonical_url",
        F.col("n_url_dups").cast(_L).alias("n_url_dups"),
        "is_url_canonical",
        web_ops.registrable_domain(web_ops.host_of("url")).alias("reg_domain"),
    )


SQL_URL_DEDUP = """
WITH u AS (
  SELECT doc_id, n_chars,
         (doc_id % 97 = 0) AS bad,
         doc_id // 4 AS page, (doc_id // 4) % 6 AS g, doc_id % 4 AS v
  FROM documents
),
c AS (
  SELECT doc_id, n_chars,
         CASE WHEN bad THEN NULL ELSE
           concat(
             CASE WHEN page % 3 = 0 THEN 's' || CAST(g AS VARCHAR) || '.example.com'
                  WHEN page % 3 = 1 THEN 's' || CAST(g AS VARCHAR) || '.example.co.uk'
                  ELSE 's' || CAST(g AS VARCHAR) || '.blog.example.com.au' END,
             '/p/', CAST(page AS VARCHAR),
             CASE WHEN v IN (0, 1, 2) THEN '?a=1&b=2' ELSE '' END)
         END AS canonical_url,
         CASE WHEN bad THEN NULL
              WHEN page % 3 = 0 THEN 'example.com'
              WHEN page % 3 = 1 THEN 'example.co.uk'
              ELSE 'example.com.au' END AS reg_domain
  FROM u
),
k AS (
  SELECT *,
         COALESCE(canonical_url, '_noUrl_' || CAST(doc_id AS VARCHAR)) AS key
  FROM c
),
w AS (
  SELECT doc_id, canonical_url, reg_domain,
         CAST(COUNT(*) OVER (PARTITION BY key) AS BIGINT) AS n_url_dups,
         ROW_NUMBER() OVER (PARTITION BY key ORDER BY n_chars DESC, doc_id) AS rk
  FROM k
)
SELECT doc_id, canonical_url, n_url_dups, (rk = 1) AS is_url_canonical, reg_domain
FROM w
"""


# ---------------------------------------------------------------------------
# psl_domains — the full-PSL matcher against analytically known hosts.
# Host generator (m = doc_id % 7, g = doc_id % 5) exercises every rule
# class; the oracle never runs a suffix match — it states the answer
# from the generator's structure.

PSL_RULES = (
    "com",
    "uk",
    "co.uk",
    "br",
    "gov.br",
    "cn",
    "com.cn",
    "ck",
    "*.ck",
    "!www.ck",
)

_HOST_GEN = """
CASE doc_id % 7
  WHEN 0 THEN concat('a', doc_id % 5, '.example.com')
  WHEN 1 THEN concat('b', doc_id % 5, '.foo.gov.br')
  WHEN 2 THEN concat('c', doc_id % 5, '.shop.com.cn')
  WHEN 3 THEN concat('w', doc_id % 5, '.any', doc_id % 5, '.ck')
  WHEN 4 THEN concat('e', doc_id % 5, '.www.ck')
  WHEN 5 THEN 'co.uk'
  ELSE concat('u', doc_id % 5, '.zzz')
END
"""


def q_psl_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import web as web_ops

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "host", F.expr(_HOST_GEN)
    )
    return docs.select(
        "doc_id",
        "host",
        web_ops.registrable_domain_psl("host", PSL_RULES).alias("reg_domain"),
    )


SQL_PSL_DOMAINS = """
SELECT doc_id,
       CASE doc_id % 7
         WHEN 0 THEN concat('a', doc_id % 5, '.example.com')
         WHEN 1 THEN concat('b', doc_id % 5, '.foo.gov.br')
         WHEN 2 THEN concat('c', doc_id % 5, '.shop.com.cn')
         WHEN 3 THEN concat('w', doc_id % 5, '.any', doc_id % 5, '.ck')
         WHEN 4 THEN concat('e', doc_id % 5, '.www.ck')
         WHEN 5 THEN 'co.uk'
         ELSE concat('u', doc_id % 5, '.zzz')
       END AS host,
       CASE doc_id % 7
         WHEN 0 THEN 'example.com'                                  -- rule com
         WHEN 1 THEN 'foo.gov.br'                                   -- rule gov.br (longest)
         WHEN 2 THEN 'shop.com.cn'                                  -- rule com.cn
         WHEN 3 THEN concat('w', doc_id % 5, '.any', doc_id % 5, '.ck')  -- wildcard *.ck
         WHEN 4 THEN 'www.ck'                                       -- exception !www.ck
         WHEN 5 THEN NULL                                           -- host IS a suffix
         ELSE concat('u', doc_id % 5, '.zzz')                       -- implicit * rule
       END AS reg_domain
FROM documents
"""


# ---------------------------------------------------------------------------
# fetch_audit — per-host politeness scheduling under the hard oracle.
# Frontier URLs synthesize from documents (host = doc_id % 7, path
# unique per doc); the delay table is analytic ((host_index % 3 + 1) ×
# 500 ms), so the oracle replays host derivation, the broadcast delay
# lookup and the per-host slot window exactly — URL ordering is ASCII,
# binary-collated identically on both engines.


def q_fetch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.web import fetch_schedule
    from .session import read_table

    frontier = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("http://crawl"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    delays = spark.range(7).select(
        F.concat(
            F.lit("crawl"), F.col("id").cast("string"), F.lit(".example.org")
        ).alias("host"),
        ((F.col("id") % 3 + 1) * 500).cast("long").alias("crawl_delay_ms"),
    )
    out = fetch_schedule(frontier, delays)
    return out.select(
        "doc_id", "url", F.col("fetch_offset_ms").cast(_L).alias("fetch_offset_ms")
    )


SQL_FETCH_AUDIT = """
WITH f AS (
  SELECT doc_id,
         'http://crawl' || CAST(doc_id % 7 AS VARCHAR)
         || '.example.org/p/' || CAST(doc_id AS VARCHAR) AS url,
         'crawl' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS h
  FROM documents
),
d AS (
  SELECT 'crawl' || CAST(i AS VARCHAR) || '.example.org' AS host,
         CAST((i % 3 + 1) * 500 AS BIGINT) AS delay
  FROM generate_series(0, 6) AS t(i)
)
SELECT f.doc_id, f.url,
       CAST((ROW_NUMBER() OVER (PARTITION BY f.h ORDER BY f.url) - 1)
            * COALESCE(d.delay, 1000) AS BIGINT) AS fetch_offset_ms
FROM f LEFT JOIN d ON f.h = d.host
"""


# ---------------------------------------------------------------------------
# html_extract — HTML → text extraction under the hard oracle, by
# ROUND TRIP: each document's text is entity-ENCODED (& < > -> &amp;
# &lt; &gt;) and wrapped in a fixed page template (head/title, style,
# comment, script, h1, p, div), so correct extraction must cut every
# non-text span, decode entities one level (recovering the original
# text exactly — encode & first, decode &amp; last inverts it for ANY
# input), and normalize whitespace.  The oracle never parses HTML: the
# expected text is the analytic plain-string concatenation with the
# SAME five-rule whitespace chain replayed in DuckDB (the only regex
# surface shared cross-engine, all patterns in the Java/RE2 common
# subset), the ``url_dedup`` analytic-ground-truth discipline.


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import html as html_ops
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    enc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    sid = F.col("doc_id").cast(_S)
    page = F.concat(
        F.lit("<html><head><title> Doc &amp; "),
        sid,
        F.lit(" </title><style>p{color:red}</style></head>"),
        F.lit('<body><!-- chrome --><script>var x = "<p>no</p>";</script><h1>H&#39;'),
        sid,
        F.lit("</h1><p>"),
        enc,
        F.lit("</p><div>t "),
        (F.col("doc_id") % 5).cast(_S),
        F.lit("</div></body></html>"),
    )
    out = html_ops.extract_html_text(
        docs.select("doc_id", page.alias("text")), html_col="text"
    )
    return out.select(
        "doc_id",
        "title",
        F.col("text").alias("text_clean"),
        F.length("text").cast(_L).alias("n_chars_clean"),
    )


SQL_HTML_EXTRACT = r"""
WITH raw AS (
  SELECT doc_id,
         'Doc & ' || CAST(doc_id AS VARCHAR) AS title,
         'Doc & ' || CAST(doc_id AS VARCHAR) || chr(10)
           || 'H''' || CAST(doc_id AS VARCHAR) || chr(10)
           || text || chr(10)
           || 't ' || CAST(doc_id % 5 AS VARCHAR) AS r
  FROM documents
),
clean AS (
  SELECT doc_id, title,
    regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      r, '[ \t\r\f]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'), '\n+', chr(10), 'g'),
      '^[\s]+', ''), '[\s]+$', '') AS text_clean
  FROM raw
)
SELECT doc_id, title, text_clean,
       CAST(length(text_clean) AS BIGINT) AS n_chars_clean
FROM clean
"""


# ---------------------------------------------------------------------------
# link_graph — href extraction + relative-URL resolution + host graph
# under the hard oracle.  Each document's page carries four resolvable
# links (absolute cross-host, protocol-relative cross-host,
# root-relative self, path-relative self — the last two verify origin
# and base-dir resolution against the analytic base URL) plus, on
# id%4==0 rows, a mailto: and a fragment-only href that MUST be
# dropped (the counts catch a leak).  The edge leg states every
# resolved URL analytically; the graph leg replays host_link_graph's
# cross-host aggregation (self-host edges dropped) as a GROUP BY over
# doc_id % 5.


def q_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import html as html_ops
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast(_S)

    def host(k: int):
        return F.concat(
            F.lit("h"), ((F.col("doc_id") + k) % 5).cast(_S), F.lit(".example.org")
        )

    base = F.concat(
        F.lit("https://"), host(0), F.lit("/d/"), sid, F.lit("/page.html")
    )
    page = F.concat(
        F.lit('<a href="https://'), host(1), F.lit('/abs">a</a>'),
        F.lit('<a href="//'), host(2), F.lit('/pr">b</a>'),
        F.lit("<a href='/rooty'>c</a>"),
        F.lit('<a href="rel'), (F.col("doc_id") % 3).cast(_S), F.lit('.html">d</a>'),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit('<a href="mailto:x@y.z">m</a><a href="#f">f</a>'),
        ).otherwise(F.lit("")),
    )
    pages = docs.select("doc_id", base.alias("url"), page.alias("html"))
    edges = html_ops.link_edges(pages, html_col="html", url_col="url")
    graph = html_ops.host_link_graph(edges)
    a = edges.select(
        F.lit("edge").alias("stat"),
        F.col("doc_id").cast(_S).alias("k1"),
        F.col("link_url").alias("k2"),
        _null(_L).alias("n"),
    )
    b = graph.select(
        F.lit("graph").alias("stat"),
        F.col("src").alias("k1"),
        F.col("dst").alias("k2"),
        F.col("n_links").cast(_L).alias("n"),
    )
    return a.unionByName(b)


SQL_LINK_GRAPH = """
WITH d AS (SELECT doc_id, doc_id % 5 AS s FROM documents),
e AS (
  SELECT doc_id, 'https://h' || CAST((s + 1) % 5 AS VARCHAR)
         || '.example.org/abs' AS link FROM d
  UNION ALL
  SELECT doc_id, 'https://h' || CAST((s + 2) % 5 AS VARCHAR)
         || '.example.org/pr' FROM d
  UNION ALL
  SELECT doc_id, 'https://h' || CAST(s AS VARCHAR)
         || '.example.org/rooty' FROM d
  UNION ALL
  SELECT doc_id, 'https://h' || CAST(s AS VARCHAR) || '.example.org/d/'
         || CAST(doc_id AS VARCHAR) || '/rel'
         || CAST(doc_id % 3 AS VARCHAR) || '.html' FROM d
),
g AS (
  SELECT 'h' || CAST(s AS VARCHAR) || '.example.org' AS src,
         'h' || CAST((s + 1) % 5 AS VARCHAR) || '.example.org' AS dst,
         COUNT(*) AS n
  FROM d GROUP BY 1, 2
  UNION ALL
  SELECT 'h' || CAST(s AS VARCHAR) || '.example.org',
         'h' || CAST((s + 2) % 5 AS VARCHAR) || '.example.org', COUNT(*)
  FROM d GROUP BY 1, 2
)
SELECT 'edge' AS stat, CAST(doc_id AS VARCHAR) AS k1, link AS k2,
       CAST(NULL AS BIGINT) AS n
FROM e
UNION ALL
SELECT 'graph', src, dst, CAST(n AS BIGINT) FROM g
"""


# ---------------------------------------------------------------------------
# crawl_audit — anchor-text harvesting (incl. <base href> resolution)
# and sitemap parsing under the hard oracle, both legs with fully
# analytic expected rows (the link_graph discipline).  The anchor leg
# exercises: base-tag-relative resolution, nested-markup anchor text,
# entity decode inside anchors, mailto dropping.  The sitemap leg
# exercises: urlset + sitemapindex blocks in one body, loc entity
# decode + trim, lastmod extraction, try_cast priority.


def q_crawl_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import html as html_ops
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast(_S)
    m3 = (F.col("doc_id") % 3).cast(_S)
    m4 = (F.col("doc_id") % 4).cast(_S)
    m5 = (F.col("doc_id") % 5).cast(_S)
    m6 = (F.col("doc_id") % 6).cast(_S)
    m9 = (F.col("doc_id") % 9).cast(_S)
    page = F.concat(
        F.lit('<base href="https://b'), m4, F.lit('.example.org/dir/">'),
        F.lit('<a href="a'), m3, F.lit('.html" title="t">Link &amp; <b>'),
        sid, F.lit("</b></a>"),
        F.lit('<a href="mailto:x@y.z">m</a>'),
        F.lit('<a href="https://abs.example.net/p'), m5, F.lit('">Abs '),
        m5, F.lit("</a>"),
    )
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://p"), (F.col("doc_id") % 7).cast(_S),
            F.lit(".example.org/x/page.html"),
        ).alias("url"),
        page.alias("html"),
    )
    anchors = html_ops.extract_anchors(pages, html_col="html")
    a = anchors.select(
        F.lit("anchor").alias("stat"),
        F.col("doc_id").cast(_S).alias("k1"),
        F.col("link_url").alias("k2"),
        F.col("anchor").alias("k3"),
        _null(_D).alias("p"),
    )

    xml = F.concat(
        F.lit("<urlset><url><loc> https://s"), m6, F.lit(".example.org/p/"),
        sid, F.lit("?a=1&amp;b=2 </loc><lastmod>2026-0"),
        ((F.col("doc_id") % 9) + 1).cast(_S),
        F.lit("-01</lastmod><priority>0."), m9,
        F.lit("</priority></url></urlset>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("<sitemapindex><sitemap><loc>https://s"), m6,
                F.lit(".example.org/sm"), sid,
                F.lit(".xml</loc></sitemap></sitemapindex>"),
            ),
        ).otherwise(F.lit("")),
    )
    maps = docs.select(
        F.col("doc_id").cast(_S).alias("src"), xml.alias("text")
    )
    sm = html_ops.parse_sitemap(maps, xml_col="text", source_col="src")
    b = sm.select(
        F.concat(F.lit("sitemap-"), F.col("kind")).alias("stat"),
        F.col("src").alias("k1"),
        F.col("loc").alias("k2"),
        F.col("lastmod").alias("k3"),
        F.col("priority").cast(_D).alias("p"),
    )
    return a.unionByName(b)


SQL_CRAWL_AUDIT = """
WITH d AS (
  SELECT doc_id,
         doc_id % 3 AS m3, doc_id % 4 AS m4, doc_id % 5 AS m5,
         doc_id % 6 AS m6, doc_id % 9 AS m9
  FROM documents
),
anchors AS (
  SELECT doc_id,
         'https://b' || CAST(m4 AS VARCHAR) || '.example.org/dir/a'
           || CAST(m3 AS VARCHAR) || '.html' AS k2,
         'Link & ' || CAST(doc_id AS VARCHAR) AS k3
  FROM d
  UNION ALL
  SELECT doc_id,
         'https://abs.example.net/p' || CAST(m5 AS VARCHAR),
         'Abs ' || CAST(m5 AS VARCHAR)
  FROM d
),
sm AS (
  SELECT doc_id, 'sitemap-url' AS stat,
         'https://s' || CAST(m6 AS VARCHAR) || '.example.org/p/'
           || CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS k2,
         '2026-0' || CAST(m9 + 1 AS VARCHAR) || '-01' AS k3,
         CAST('0.' || CAST(m9 AS VARCHAR) AS DOUBLE) AS p
  FROM d
  UNION ALL
  SELECT doc_id, 'sitemap-sitemap',
         'https://s' || CAST(m6 AS VARCHAR) || '.example.org/sm'
           || CAST(doc_id AS VARCHAR) || '.xml',
         CAST(NULL AS VARCHAR), CAST(NULL AS DOUBLE)
  FROM d WHERE doc_id % 3 = 0
)
SELECT 'anchor' AS stat, CAST(doc_id AS VARCHAR) AS k1, k2, k3,
       CAST(NULL AS DOUBLE) AS p
FROM anchors
UNION ALL
SELECT stat, CAST(doc_id AS VARCHAR), k2, k3, p FROM sm
"""


# ---------------------------------------------------------------------------
# image_dups — the multimodal image-dedup family's first hard oracle
# row.  ``multimodal.hamming_near_dup_pairs`` (band the 64-bit
# perceptual hash into max_hamming+1 slices, equi-join on any equal
# slice — pigeonhole recall 1.0 — verify with codegen
# ``bit_count(xor)``) runs verbatim on hashes SYNTHESIZED analytically:
# groups of three consecutive doc_ids share a 56-bit base (seven bytes
# (g·p+q) mod 251, primes per byte) and members j=1/j=2 XOR-flip
# one/two g-dependent bit positions, so every group carries known
# near-dups at hamming 1–3 plus exact base collisions at g ≡ g' (mod
# 251).  The oracle replays the band slicing ((h >> start) & mask — all
# hashes keep bit 63 = 0, so arithmetic and unsigned shifts agree), the
# bucket equi-join and the XOR popcount verify in DuckDB — the
# ``cross_corpus`` full-replay discipline.  The Python half of the
# operator (PNG decode → integer luma → nearest resize → dHash,
# ``multimodal.image_dhash``) cannot replay in SQL and keeps its
# python-twin pytest evidence (``tests/test_multimodal.py``); this row
# pins the distributed half: banding arithmetic, join shape, popcount
# threshold and pair dedup.


def _dhash_synth_expr():
    """(asset_id, dhash) synthesis shared by query and docstring: seven
    (g·p+q) mod 251 bytes at bits 0..55, then j-dependent XOR flips."""
    g = F.expr("doc_id DIV 3")
    j = F.col("doc_id") % 3
    primes = ((3, 7), (5, 11), (7, 13), (11, 17), (13, 19), (17, 23), (19, 29))
    base = F.lit(0).cast(_L)
    for k, (p, q) in enumerate(primes):
        base = base + ((g * p + q) % 251) * F.lit(1 << (8 * k)).cast(_L)
    m1 = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST((doc_id DIV 3) % 56 AS INT))"
    )
    m2 = F.expr(
        "shiftleft(CAST(1 AS BIGINT), CAST(((doc_id DIV 3) * 7 + 3) % 56 AS INT))"
    ).bitwiseXOR(
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(((doc_id DIV 3) * 11 + 5) % 56 AS INT))"
        )
    )
    return (
        F.when(j == 0, base)
        .when(j == 1, base.bitwiseXOR(m1))
        .otherwise(base.bitwiseXOR(m2))
        .cast(_L)
    )


def q_image_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import hamming_near_dup_pairs
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    hashes = docs.select(
        F.col("doc_id").alias("asset_id"), _dhash_synth_expr().alias("dhash")
    )
    pairs = hamming_near_dup_pairs(hashes, max_hamming=4)
    return pairs.select(
        F.col("id_a").cast(_L).alias("id_a"),
        F.col("id_b").cast(_L).alias("id_b"),
        F.col("hamming").cast("int").alias("hamming"),
    )


SQL_IMAGE_DUPS = """
WITH d AS (
  SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS j FROM documents
),
h0 AS (
  SELECT doc_id, g, j,
         ((g*3+7) % 251)
         + ((g*5+11) % 251) * 256
         + ((g*7+13) % 251) * 65536
         + ((g*11+17) % 251) * 16777216
         + ((g*13+19) % 251) * 4294967296
         + ((g*17+23) % 251) * 1099511627776
         + ((g*19+29) % 251) * 281474976710656 AS hb
  FROM d
),
h AS (
  SELECT doc_id AS id,
         CASE WHEN j = 0 THEN hb
              WHEN j = 1 THEN xor(hb, 1::BIGINT << CAST(g % 56 AS INTEGER))
              ELSE xor(hb, xor(1::BIGINT << CAST((g*7+3) % 56 AS INTEGER),
                               1::BIGINT << CAST((g*11+5) % 56 AS INTEGER)))
         END AS h
  FROM h0
),
b AS (
  SELECT id, h, t.band_idx, (h >> t.s) & t.m AS band_val
  FROM h CROSS JOIN (VALUES (0, 0, 8191), (1, 13, 8191), (2, 26, 8191),
                            (3, 39, 8191), (4, 52, 4095)) AS t(band_idx, s, m)
),
cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b, a.h AS ha, c.h AS hb2
  FROM b a JOIN b c ON a.band_idx = c.band_idx AND a.band_val = c.band_val
  WHERE a.id < c.id
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
       CAST(bit_count(xor(ha, hb2)) AS INTEGER) AS hamming
FROM cand
WHERE bit_count(xor(ha, hb2)) <= 4
"""


# ---------------------------------------------------------------------------
# audio_audit — the audio family's first hard oracle row, the
# ``image_dups`` discipline applied to sound: the binary front door
# (``audio_windows``: np.frombuffer over blobs) cannot replay in SQL,
# so the row pins the JVM array-input twin
# (``multimodal.pcm_frame_features`` — pytest-proven frame-for-frame
# equal to the numpy path on identical PCM) over analytically
# synthesized signals.  Per-asset lengths 100..580 straddle the
# 160-sample window so BOTH framing branches (sliding windows and the
# single short whole-signal frame) are under the hash; every output is
# BIGINT (energy = Σx², zero-crossings), no floats anywhere.


def q_audio_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import pcm_frame_features
    from .session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    n = (100 + (F.col("vec_id") % 9) * 60).cast("int")
    samples = F.transform(
        F.sequence(F.lit(1), n),
        lambda j: (
            ((F.col("vec_id") * 7 + j.cast("long") * 13) % 201) - 100
        ).cast("long"),
    )
    pcm = emb.select("vec_id", samples.alias("samples"))
    out = pcm_frame_features(
        pcm, samples_col="samples", id_col="vec_id",
        window_ms=10, hop_ms=5, sample_rate=16_000,
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("win_start_ms").cast("long").alias("win_start_ms"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("energy").cast("long").alias("energy"),
        F.col("zero_crossings").cast("long").alias("zero_crossings"),
    )


SQL_AUDIO_AUDIT = """
WITH pcm AS (
  SELECT vec_id, CAST(100 + (vec_id % 9) * 60 AS BIGINT) AS n,
         list_transform(
           generate_series(1, CAST(100 + (vec_id % 9) * 60 AS BIGINT)),
           j -> CAST(((vec_id * 7 + j * 13) % 201) - 100 AS BIGINT)) AS s
  FROM embeddings
),
f AS (
  SELECT vec_id, s,
         CASE WHEN n >= 160 THEN (n - 160) // 80 + 1 ELSE 1 END AS nf,
         CASE WHEN n >= 160 THEN 160 ELSE n END AS fl
  FROM pcm
),
frames AS (
  SELECT vec_id, s, fl, fi * 80 AS start,
         s[fi * 80 + 1 : fi * 80 + fl] AS sl
  FROM f, UNNEST(generate_series(0, CAST(nf - 1 AS BIGINT))) AS t(fi)
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(start * 1000 // 16000 AS BIGINT) AS win_start_ms,
       CAST(fl AS BIGINT) AS n_samples,
       CAST(list_reduce(list_transform(sl, x -> x * x), (a, b) -> a + b)
            AS BIGINT) AS energy,
       CAST(CASE WHEN fl > 1 THEN list_reduce(
              list_transform(generate_series(1, CAST(fl - 1 AS BIGINT)),
                i -> CASE WHEN (sl[i] < 0) != (sl[i + 1] < 0)
                          THEN 1 ELSE 0 END),
              (a, b) -> a + b)
            ELSE 0 END AS BIGINT) AS zero_crossings
FROM frames
"""


# ---------------------------------------------------------------------------
# video_audit — the video frame-sampling surface under the hard
# oracle.  ``multimodal.raw_video_frames`` runs VERBATIM over raw
# video blobs synthesized engine-side (per-doc byte strings built as
# hex → ``unhex`` → real BINARY content, so the Spark side exercises
# genuine binary ``substring`` slicing), with per-doc frame counts
# 3..5, a sampling stride of 2 and a ragged sub-frame TAIL (doc_id%2
# bytes) that truncation must ignore.  DuckDB cannot slice BLOBs, so
# the oracle replays the arithmetic on the HEX TWIN of the same bytes
# (2 hex chars per byte, VARCHAR substring) — byte-for-byte
# equivalent because both sides emit frames AS uppercase hex.


def q_video_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import raw_video_frames
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    hexstr = F.expr(
        "array_join(transform(sequence(0, CAST((3 + doc_id % 3) * 12"
        " + doc_id % 2 AS INT) - 1),"
        " j -> lpad(hex(CAST((doc_id * 7 + (j DIV 12) * 13 + (j % 12) * 5)"
        " % 251 AS INT)), 2, '0')), '')"
    )
    media = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("video").alias("media_type"),
        F.unhex(hexstr).alias("content"),
    )
    frames = raw_video_frames(
        media, width=4, height=3, channels=1, fps=10, every_ms=200
    )
    return frames.select(
        F.col("asset_id").cast("long").alias("asset_id"),
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.col("frame_ms").cast("long").alias("frame_ms"),
        F.col("n_frames").cast("long").alias("n_frames"),
        F.upper(F.hex(F.col("frame"))).alias("frame_hex"),
    )


SQL_VIDEO_AUDIT = """
WITH d AS (
  SELECT doc_id, CAST(3 + doc_id % 3 AS BIGINT) AS nfr,
         (3 + doc_id % 3) * 12 + doc_id % 2 AS nb
  FROM documents
),
hx AS (
  SELECT doc_id, nfr,
         list_aggregate(list_transform(generate_series(0, CAST(nb - 1 AS BIGINT)),
           j -> lpad(hex((doc_id * 7 + (j // 12) * 13 + (j % 12) * 5) % 251),
                     2, '0')), 'string_agg', '') AS h
  FROM d
)
SELECT CAST(doc_id AS BIGINT) AS asset_id,
       CAST(fi AS BIGINT) AS frame_idx,
       CAST(fi * 1000 // 10 AS BIGINT) AS frame_ms,
       nfr AS n_frames,
       upper(substring(h, CAST(fi * 24 + 1 AS INT), 24)) AS frame_hex
FROM hx, UNNEST(generate_series(0, nfr - 1, 2)) AS t(fi)
"""


# ---------------------------------------------------------------------------
# audio_fp — the acoustic fingerprint (``operators.multimodal.
# audio_fingerprint``: Haitsma–Kalker energy-delta signs packed into
# 56-bit words) on analytically synthesized PCM.  Lengths straddle the
# sub-window single-frame branch (which must yield NO fingerprint rows)
# and the multi-word boundary.  The oracle replays framing,
# exact-integer energies, the LEAD delta-sign bit and the low-bit-first
# shift packing; every quantity is an exact integer.


def q_audio_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.multimodal import audio_fingerprint
    from .session import read_table

    emb = read_table(spark, sf_dir, "embeddings")
    # lengths 100..4900: vec_id % 7 == 0 rows (n=100 < win=160) hit the
    # single-frame branch and must emit NO fingerprint; the longest hit
    # 60 frames = 59 bits -> two 56-bit words
    n = (100 + (F.col("vec_id") % 7) * 800).cast("int")
    samples = F.transform(
        F.sequence(F.lit(1), n),
        lambda j: (
            ((F.col("vec_id") * 7 + j.cast("long") * 13) % 201) - 100
        ).cast("long"),
    )
    # spread the id rows over every core BEFORE synthesizing the PCM
    # arrays: the one-file embeddings scan is a single task, and the
    # fingerprint pipeline is per-row array math with no shuffle of its
    # own, so without this barrier the whole query would execute on one
    # core (guide §2.5 — repartition right after a non-splittable read)
    pcm = (
        emb.select("vec_id")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", samples.alias("samples"))
    )
    out = audio_fingerprint(
        pcm, samples_col="samples", id_col="vec_id",
        window_ms=10, hop_ms=5, sample_rate=16_000, bits_per_word=56,
    )
    return out.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("word_idx").cast("long").alias("word_idx"),
        F.col("fp").cast("long").alias("fp"),
    )


SQL_AUDIO_FP = """
WITH pcm AS (
  SELECT vec_id, CAST(100 + (vec_id % 7) * 800 AS BIGINT) AS n,
         list_transform(
           generate_series(1, CAST(100 + (vec_id % 7) * 800 AS BIGINT)),
           j -> CAST(((vec_id * 7 + j * 13) % 201) - 100 AS BIGINT)) AS s
  FROM embeddings
),
f AS (
  SELECT vec_id, s,
         CASE WHEN n >= 160 THEN (n - 160) // 80 + 1 ELSE 1 END AS nf,
         CASE WHEN n >= 160 THEN 160 ELSE n END AS fl
  FROM pcm
),
frames AS (
  SELECT vec_id, fi,
         list_reduce(list_transform(s[fi * 80 + 1 : fi * 80 + fl],
                                    x -> x * x), (a, b) -> a + b) AS energy
  FROM f, UNNEST(generate_series(0, CAST(nf - 1 AS BIGINT))) AS t(fi)
),
bits AS (
  SELECT vec_id, fi AS seq,
         LEAD(energy) OVER (PARTITION BY vec_id ORDER BY fi) AS nxt,
         energy
  FROM frames
)
SELECT CAST(vec_id AS BIGINT) AS vec_id,
       CAST(seq // 56 AS BIGINT) AS word_idx,
       CAST(SUM(CASE WHEN nxt > energy THEN 1 ELSE 0 END
                * (CAST(1 AS BIGINT) << CAST(seq % 56 AS INTEGER)))
            AS BIGINT) AS fp
FROM bits
WHERE nxt IS NOT NULL
GROUP BY vec_id, seq // 56
"""


# ---------------------------------------------------------------------------
# main_content_audit — the block-level boilerplate filter
# (``operators/html.py::extract_main_content``: per-block min-chars +
# max-link-density keep rule) by the ``html_extract`` round trip.  Each
# document's text is entity-encoded and wrapped in a chrome-heavy page
# template whose chrome blocks have STRUCTURAL keep decisions (all-anchor
# text → link share 1.0 > 0.5; 'ok' is always sub-min-chars; the title
# is short).  The only data-dependent decision is the prose block's
# min-chars gate (70, so real texts sit on BOTH sides at every SF),
# which the oracle replays over the same whitespace-normalized
# rendering together with its link-density comparison, never parsing
# HTML.  A second column counts the rendered blocks (K+4, analytic),
# pinning the splitter itself.


def q_main_content_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import html as html_ops
    from .session import read_table

    docs = read_table(spark, sf_dir, "documents")
    sid = F.col("doc_id").cast(_S)
    enc = F.replace(
        F.replace(
            F.replace(F.col("text"), F.lit("&"), F.lit("&amp;")),
            F.lit("<"),
            F.lit("&lt;"),
        ),
        F.lit(">"),
        F.lit("&gt;"),
    )
    # 3 + id%3 nav items, every one pure anchor text (link share 1.0)
    nav = F.aggregate(
        F.sequence(F.lit(0), (F.col("doc_id") % 3 + 2).cast("int")),
        F.lit(""),
        lambda acc, i: F.concat(
            acc,
            F.lit('<li class="nav"><a href="/s/'),
            i.cast(_S),
            F.lit('">Navigation section '),
            sid,
            F.lit(" number "),
            i.cast(_S),
            F.lit(" link</a></li>"),
        ),
    )
    page = F.concat(
        F.lit("<html><head><title>T "),
        sid,
        F.lit('</title><script>var x = "<p>no</p>";</script></head><body><ul>'),
        nav,
        F.lit("</ul><p>"),
        enc,
        F.lit(' see <a href="/r">annex '),
        (F.col("doc_id") % 5).cast(_S),
        F.lit("</a> now.</p><div>ok</div>"),
        F.lit('<div class="f"><a href="/f">Footer farm of pure anchor text '),
        sid,
        F.lit(" with plenty of characters</a></div></body></html>"),
    )
    # round-robin spread BEFORE the heavy per-row work: the one-file
    # documents scan is a single task, and page synthesis + HTML block
    # parsing would otherwise run serially on one core (the audio_fp
    # placement fix, r14 guide §2.4)
    pages = docs.select("doc_id", page.alias("text")).repartition(
        spark.sparkContext.defaultParallelism
    )
    # ONE block_texts parse feeds BOTH outputs: the former shape ran
    # extract_main_content's parse for main_text and a second full
    # parse for n_blocks.  The blocks array is let-bound as a transform
    # lambda variable (evaluated once per row) and both derived values
    # emitted through an inline() barrier.  min_chars=70 so the prose
    # gate is DATA-dependent at every SF (the corpus holds 47..52-char
    # texts that must drop); expressions identical to
    # extract_main_content(min_chars=70) + size(block_texts(text)).
    def _row(blocks):
        kept = F.filter(
            blocks,
            lambda s: (F.length(s["text"]) >= 70)
            & (s["link_chars"] <= F.length(s["text"]) * F.lit(0.5)),
        )
        return F.struct(
            F.array_join(F.transform(kept, lambda s: s["text"]), "\n")
            .cast(_S)
            .alias("main_text"),
            F.size(blocks).cast(_L).alias("n_blocks"),
        )

    return pages.select(
        F.col("doc_id").cast(_L).alias("doc_id"),
        F.inline(
            F.transform(F.array(html_ops.block_texts(F.col("text"))), _row)
        ),
    )


# the SAME five-rule whitespace chain as the html_extract oracle
_WS = (
    "regexp_replace(regexp_replace(regexp_replace(regexp_replace("
    "regexp_replace({x}, '[ \\t\\r\\f]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g'),"
    " '\\n+', chr(10), 'g'), '^[\\s]+', ''), '[\\s]+$', '')"
)

SQL_MAIN_CONTENT_AUDIT = f"""
WITH rendered AS (
  SELECT doc_id,
         {_WS.format(x="text || ' see  annex ' || CAST(doc_id % 5 AS VARCHAR) || '  now.'")}
           AS prose,
         CAST(length('annex ' || CAST(doc_id % 5 AS VARCHAR)) AS BIGINT)
           AS link_chars,
         CAST(3 + doc_id % 3 AS BIGINT) AS k_nav
  FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CASE WHEN length(prose) >= 70
                 AND link_chars <= length(prose) * 0.5
            THEN prose ELSE '' END AS main_text,
       -- title + k_nav all-anchor items + prose + 'ok' junk + footer
       CAST(k_nav + 4 AS BIGINT) AS n_blocks
FROM rendered
"""


# ---------------------------------------------------------------------------
# exports

QUERIES = {
    "url_dedup": q_url_dedup,
    "psl_domains": q_psl_domains,
    "fetch_audit": q_fetch_audit,
    "html_extract": q_html_extract,
    "link_graph": q_link_graph,
    "crawl_audit": q_crawl_audit,
    "image_dups": q_image_dups,
    "audio_audit": q_audio_audit,
    "video_audit": q_video_audit,
    "audio_fp": q_audio_fp,
    "main_content_audit": q_main_content_audit,
}


def oracle_sql() -> dict[str, str]:
    return {
        "url_dedup": SQL_URL_DEDUP,
        "psl_domains": SQL_PSL_DOMAINS,
        "fetch_audit": SQL_FETCH_AUDIT,
        "html_extract": SQL_HTML_EXTRACT,
        "link_graph": SQL_LINK_GRAPH,
        "crawl_audit": SQL_CRAWL_AUDIT,
        "image_dups": SQL_IMAGE_DUPS,
        "audio_audit": SQL_AUDIO_AUDIT,
        "video_audit": SQL_VIDEO_AUDIT,
        "audio_fp": SQL_AUDIO_FP,
        "main_content_audit": SQL_MAIN_CONTENT_AUDIT,
    }


UNIONS: dict[str, tuple[str, str]] = {}
